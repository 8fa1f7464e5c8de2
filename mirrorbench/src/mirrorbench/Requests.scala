package mirrorbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.entries._
import graft.functions.Text
import graft.operators.ResultCache

/** The entry-list options a visitor can send (the reference's
  * EntrySearchOptions), kept apart from the program's own option type so
  * the oracle depends only on the benchmark. */
final case class ListQuery(
    q: Option[String] = None, agency: Option[String] = None,
    resolutions: Seq[String] = Nil,
    requestedFrom: Option[String] = None, requestedTo: Option[String] = None,
    completedFrom: Option[String] = None, completedTo: Option[String] = None,
    sort: String = "newest", page: Int = 1, pageSize: Int = 50)

/** One public-site request. `cls` is the latency class it is reported
  * under: entry pages, search pages, agency pages or report pages. */
sealed trait Req { def cls: String }
object Req {
  final case class List(q: ListQuery) extends Req {
    def cls: String = if (q.q.isDefined) "search" else "page"
  }
  final case class Cursor(q: ListQuery, last: Option[String], lastId: Long) extends Req { def cls = "page" }
  final case class AgencyIndex(sort: String, page: Int) extends Req { def cls = "agency" }
  final case class AgencyDetail(agency: String) extends Req { def cls = "agency" }
  final case class Timeline(agency: String) extends Req { def cls = "agency" }
  final case class Feed(agency: String) extends Req { def cls = "agency" }
  case object Home extends Req { def cls = "agency" }
  final case class Months(year: Int) extends Req { def cls = "report" }
  final case class Range(from: String, to: String) extends Req { def cls = "report" }
  /** Freshness probe: a search for the token only one sync batch carries. */
  final case class Probe(token: String) extends Req { def cls = "search" }

  val AgencyPageSize = 20
  val FeedLimit = 100
}

/** What the benchmark keeps of each response: enough to check it. */
sealed trait Response
object Response {
  final case class ListPage(total: Long, page: Int, ids: Seq[Long], agencies: Seq[String]) extends Response
  final case class Ids(ids: Seq[Long]) extends Response
  final case class Agencies(rows: Seq[(String, Long)]) extends Response
  final case class Timeline(days: Int, buckets: Map[String, Long]) extends Response
  final case class Detail(slug: String, requests: Long, timeline: Timeline, feed: Ids) extends Response
  final case class Home(total: Long, last30: Long, last365: Long, avgDays: Double) extends Response
  final case class Months(counts: Map[String, Long]) extends Response
  final case class Count(n: Long) extends Response
}

/** Where one mirror keeps its state. */
final case class Paths(root: String) {
  val store = s"$root/entries"
  val index = s"$root/fts"
  val warehouse = s"$root/warehouse"
  val cache = s"$root/cache"
}

/** Calls the program's public API the way the site's pages do, with a
  * span around each call into a module. */
final class Client(spark: SparkSession, paths: Paths, bookmark: () => String) {
  import Req._

  private def entries: DataFrame = spark.read.parquet(paths.store)

  private def options(q: ListQuery) = SearchOptions(q.q, q.agency, q.resolutions,
    q.requestedFrom, q.requestedTo, q.completedFrom, q.completedTo, q.sort, q.page, q.pageSize)

  /** A ResultCache lookup. On a miss the layer's compute runs inside the
    * lookup: its span covers compute, materialize and write. */
  private def cached(layer: String, scope: String, params: Seq[(String, String)])
                    (compute: => DataFrame): DataFrame = {
    var computeStart = 0L
    val (df, hit) = Trace.spanAs {
      val r = ResultCache.withCache(spark, paths.cache, scope, params, bookmark()) {
        computeStart = System.nanoTime(); compute
      }
      if (!r._2) Trace.record(layer, computeStart, System.nanoTime())
      r
    }(r => if (r._2) "cache.hit" else "cache.miss")
    Trace.count("cache.lookups", 1)
    if (hit) Trace.count("cache.hits", 1)
    df
  }

  private def stats(): DataFrame =
    cached("agency.stats", "agency_stats", Seq("as_of" -> Model.AsOf)) {
      AgencyEngine.agencyStats(spark, entries, Model.AsOf)
    }

  private def timeline(agency: String): Response.Timeline = {
    val df = cached("agency.timeline", "timeline", Seq("agency" -> agency, "as_of" -> Model.AsOf)) {
      AgencyEngine.resolutionTimeline(entries, agency, Model.AsOf)
    }
    val rows = df.collect()
    val buckets = Seq("granted", "granted_in_part", "exempted", "rejected", "other").map { b =>
      b -> rows.map(_.getAs[Long](b)).sum
    }.filter(_._2 > 0).toMap
    Response.Timeline(rows.length, buckets)
  }

  private val FeedId = "agency-[a-z0-9-]+-entry-([0-9]+)".r

  private def feed(agency: String): Response.Ids = {
    val (name, slug) = identity(agency)
    val df = cached("rss.feed", "feed", Seq("agency" -> agency)) {
      Rss.agencyFeed(entries, name, slug, Normalize.aliasCandidates(agency), FeedLimit)
    }
    val xml = df.collect().headOption.map(_.getString(0)).getOrElse("")
    Response.Ids(FeedId.findAllMatchIn(xml).map(_.group(1).toLong).toSeq)
  }

  private def identity(agency: String): (String, String) =
    Text.agencyIdentity(agency.replaceAll("'{2,}", "'"), Fixture.aliasGroups)

  private def listPage(q: ListQuery, layer: String): Response.ListPage = Trace.span(layer) {
    val p = Engine.listEntries(spark, entries, options(q), Some(paths.index))
    val rows = p.rows.select("id", "agency").collect()
    Trace.count("engine.rows_returned", rows.length)
    Response.ListPage(p.total, p.page, rows.map(_.getLong(0)).toSeq, rows.map(_.getString(1)).toSeq)
  }

  def run(req: Req): Response = req match {
    case List(q) => listPage(q, if (q.q.isDefined) "engine.search" else "engine.list")
    case Probe(token) => listPage(ListQuery(q = Some(token)), "engine.search")
    case Cursor(q, last, lastId) => Trace.span("engine.cursor") {
      val ids = Engine.listEntriesAfter(spark, entries, options(q), last, lastId, Some(paths.index))
        .select("id").collect().map(_.getLong(0)).toSeq
      Trace.count("engine.rows_returned", ids.size)
      Response.Ids(ids)
    }
    case AgencyIndex(sort, page) =>
      val s = stats()
      Trace.span("agency.listing") {
        Response.Agencies(AgencyEngine.listAgencies(s, None, sort, page, AgencyPageSize)
          .select("slug", "requests").collect().map(r => r.getString(0) -> r.getLong(1)).toSeq)
      }
    case AgencyDetail(agency) =>
      val slug = identity(agency)._2
      val s = stats()
      val requests = Trace.span("agency.listing") {
        AgencyEngine.agencyBySlug(s, slug).select("requests").collect().map(_.getLong(0)).headOption.getOrElse(0L)
      }
      Response.Detail(slug, requests, timeline(agency), feed(agency))
    case Timeline(agency) => timeline(agency)
    case Feed(agency) => feed(agency)
    case Home =>
      val r = cached("agency.home", "home", Seq("as_of" -> Model.AsOf)) {
        AgencyEngine.homeStats(entries, Model.AsOf, Gen.AsOfDay.getYear)
      }.collect().head
      Response.Home(r.getAs[Long]("total_all"), r.getAs[Long]("total_30d"),
        r.getAs[Long]("total_365d"), r.getAs[Double]("avg_all"))
    case Months(year) => Trace.span("warehouse.month") {
      Response.Months(Warehouse.monthlyRequestCounts(spark, paths.warehouse, year).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    }
    case Range(from, to) => Trace.span("warehouse.range") {
      Response.Count(Warehouse.requestedInRange(spark, paths.warehouse, from, to).count())
    }
  }
}

/** Checks a response against the model of the rows it should reflect.
  * Returns a description of the first mismatch. */
object Oracle {
  import Req._

  def check(req: Req, got: Response, m: Model): Option[String] = {
    val want: Response = req match {
      case List(q) => m.expectList(q)
      case Probe(token) =>
        val w = m.expectList(ListQuery(q = Some(token)))
        if (w.total == 0) return Some(s"probe $token: the model holds no row with it")
        w
      case Cursor(q, _, lastId) => m.expectCursor(q, lastId)
      case AgencyIndex(sort, page) => m.expectAgencyIndex(sort, page, AgencyPageSize)
      case AgencyDetail(agency) =>
        val slug = Text.agencyIdentity(agency.replaceAll("'{2,}", "'"), Fixture.aliasGroups)._2
        Response.Detail(slug, m.slugStats.get(slug).map(_.requests).getOrElse(0L),
          m.expectTimeline(agency), m.expectFeed(agency, FeedLimit))
      case Timeline(agency) => m.expectTimeline(agency)
      case Feed(agency) => m.expectFeed(agency, FeedLimit)
      case Home => m.expectHome(Gen.AsOfDay.getYear)
      case Months(year) => m.expectMonths(year)
      case Range(from, to) => m.expectRange(from, to)
    }
    (want, got) match {
      case (w: Response.Home, g: Response.Home) =>
        val same = w.copy(avgDays = 0) == g.copy(avgDays = 0) &&
          math.abs(w.avgDays - g.avgDays) <= 1e-9 * math.max(1.0, math.abs(w.avgDays))
        if (same) None else Some(s"$req: want $w, got $g")
      case _ => if (want == got) None else Some(s"$req: want $want, got $got")
    }
  }
}

/** Request schedules. Each workload has a fixed sequence of request
  * templates (class, sort, filter kind, page depth, search shape); the seed
  * picks only the values that fill them, so every seed runs the same mix
  * in the same order. */
object Schedule {
  import Req._

  val Sorts = IndexedSeq("newest", "oldest", "recently_completed", "highest_fee", "id")
  val AgencySorts = IndexedSeq("most_requests", "least_requests",
    "highest_avg_response_time", "lowest_avg_response_time")
  private val Resolutions = IndexedSeq("Granted", "Granted in part", "Exempted", "Rejected",
    "No Responsive Documents", "Withdrawn")

  private def day(r: SplittableRandom, from: Int, to: Int): String =
    Gen.AsOfDay.minusDays(from + r.nextInt(to - from)).toString

  /** An entry list with one filter a visitor sets, by `kind`: an agency
    * under one of its spellings, resolutions, a request window, or a
    * completion lower bound. */
  private def filtered(gen: Gen, r: SplittableRandom, sort: String, kind: Int): ListQuery = {
    val q = ListQuery(sort = sort)
    kind % 4 match {
      case 0 =>
        val fam = gen.agencies(r.nextInt(12))
        q.copy(agency = Some(fam(r.nextInt(fam.size))))
      case 1 =>
        val rs = Resolutions.indices.map(i => Resolutions((i + r.nextInt(Resolutions.size)) % Resolutions.size))
        q.copy(resolutions = rs.distinct.take(2))
      case 2 =>
        val to = day(r, 0, 2000)
        q.copy(requestedFrom = Some(java.time.LocalDate.parse(to).minusDays(60 + r.nextInt(300)).toString),
          requestedTo = Some(to))
      case _ => q.copy(completedFrom = Some(day(r, 100, 1500)))
    }
  }

  /** Page 1 of the unfiltered list. */
  private def firstPage(sort: String): Req = List(ListQuery(sort = sort))

  /** A filtered list at page 2 to 5, or deep enough to clamp. */
  private def filteredPage(gen: Gen, r: SplittableRandom, sort: String, kind: Int, deep: Boolean): Req =
    List(filtered(gen, r, sort, kind).copy(page = if (deep) 20 + r.nextInt(200) else 2 + r.nextInt(4)))

  /** The next page after a row 100 to 1,500 deep in the unfiltered list. */
  private def cursor(m: Model, r: SplittableRandom, sort: String): Req = {
    val all = m.filtered(ListQuery(sort = sort))
    val anchor = m.rows(all(100 + r.nextInt(1400))).id
    Cursor(ListQuery(sort = sort), m.cursorKey(sort, anchor), anchor)
  }

  /** A search of one prefix from a Zipf band (0 common, 1 middle, 2 rare),
    * or of 2 to 3 words of one row. */
  private def search(gen: Gen, m: Model, r: SplittableRandom, sort: String, shape: Int): Req =
    List(ListQuery(q = Some(gen.searchText(r, m.rows.size, shape)), sort = sort))

  private def months(r: SplittableRandom): Req = Months(Gen.AsOfDay.getYear - r.nextInt(7))
  private def range(r: SplittableRandom): Req = {
    val from = day(r, 20, 2400)
    Range(from, java.time.LocalDate.parse(from).plusDays(30 + r.nextInt(60)).toString)
  }

  /** The agencies whose pages the site serves: the two most requested,
    * each under its first spelling. */
  def siteAgencies(gen: Gen): IndexedSeq[String] = gen.agencies.take(2).map(_.head)

  private def agencyPage(gen: Gen, r: SplittableRandom, kind: Int): Req = {
    val a = siteAgencies(gen)(kind / 5 % 2)
    kind % 5 match {
      case 0 => AgencyIndex(AgencySorts(kind / 5 % AgencySorts.size), 1 + r.nextInt(2))
      case 1 => AgencyDetail(a)
      case 2 => Timeline(a)
      case 3 => Feed(a)
      case _ => Home
    }
  }

  /** The cache fill: every agency page key the site serves, in lanes
    * that never share a cache key, so the lanes can run at once. */
  private def cacheFill(gen: Gen): IndexedSeq[IndexedSeq[Req]] = {
    val Seq(a0, a1) = siteAgencies(gen)
    IndexedSeq(
      IndexedSeq(AgencyIndex(AgencySorts(0), 1), Home),
      IndexedSeq(Timeline(a0), Feed(a0)),
      IndexedSeq(Timeline(a1), Feed(a1)))
  }

  /** Warm-up lanes: the cache fill, and every entry and report shape. */
  def warmup(gen: Gen, m: Model, r: SplittableRandom): IndexedSeq[IndexedSeq[Req]] =
    cacheFill(gen) ++ IndexedSeq(
      IndexedSeq(firstPage("newest"), filteredPage(gen, r, "highest_fee", 0, deep = false),
        cursor(m, r, "oldest"), months(r)),
      IndexedSeq(search(gen, m, r, "newest", 0), search(gen, m, r, "id", 3),
        filteredPage(gen, r, "recently_completed", 2, deep = true), range(r)))

  /** Public-site traffic, sixteen requests per block: page 1, two
    * filtered pages (one shallow, one deep), a cursor page, four searches
    * (one prefix from each Zipf band, and 2 to 3 words of one row), four
    * agency pages and two of each report kind. Every block holds every
    * search shape, so the search median never rests on which shapes a run
    * happened to draw; three of its four entry pages are list pages, so
    * the page median lands among them rather than between them and the
    * cheaper cursor pages. Agency and report pages are the cheap ones, so
    * their medians get more samples for little time. Sorts, filter kinds
    * and agency page kinds rotate across blocks. */
  def browse(gen: Gen, m: Model, blocks: Int, r: SplittableRandom): IndexedSeq[Req] =
    (0 until blocks).flatMap { b =>
      IndexedSeq(
        firstPage(Sorts(b % 5)),
        agencyPage(gen, r, 4 * b),
        search(gen, m, r, Sorts((b + 1) % 5), b % 3),
        months(r),
        search(gen, m, r, Sorts((b + 2) % 5), (b + 1) % 3),
        agencyPage(gen, r, 4 * b + 1),
        filteredPage(gen, r, Sorts((b + 2) % 5), b, deep = b % 2 == 1),
        range(r),
        search(gen, m, r, Sorts((b + 4) % 5), 3),
        cursor(m, r, Sorts((b + 3) % 5)),
        agencyPage(gen, r, 4 * b + 2),
        search(gen, m, r, Sorts((b + 3) % 5), (b + 2) % 3),
        filteredPage(gen, r, Sorts((b + 4) % 5), b + 2, deep = b % 2 == 0),
        months(r),
        agencyPage(gen, r, 4 * b + 3),
        range(r))
    }

  /** An untimed page, search, agency detail (all cache hits) and report
    * page, run right after the forced GC that precedes a timed window:
    * Spark's cleaner drops what the GC freed while these run, not during
    * the first timed requests. */
  def primer(gen: Gen, m: Model, r: SplittableRandom): IndexedSeq[Req] =
    IndexedSeq(firstPage("id"), search(gen, m, r, "newest", 1), agencyPage(gen, r, 1), months(r))

  /** The first visitors of the agency pages after a sync: the cycle moved
    * the cache bookmark, so each computes its result and fills the cache. */
  def firstVisitors(gen: Gen, cycle: Int): IndexedSeq[Req] = {
    val a = siteAgencies(gen)(cycle % 2)
    IndexedSeq(AgencyIndex(AgencySorts(cycle % AgencySorts.size), 1), Timeline(a), Feed(a), Home)
  }

  /** The reads that follow one sync cycle, after its freshness probe:
    * the agency pages' first visitors, four report pages, page 1, a
    * filtered page, a cursor page and three searches. The classes are
    * interleaved, so each class's samples spread over the whole day
    * rather than one burst of it. */
  def afterSync(gen: Gen, m: Model, cycle: Int, r: SplittableRandom): IndexedSeq[Req] = {
    val Seq(index, timeline, feed, home) = firstVisitors(gen, cycle)
    IndexedSeq(
      index, months(r), firstPage(Sorts(cycle % 5)),
      timeline, range(r), search(gen, m, r, Sorts((cycle + 3) % 5), (cycle + 1) % 3),
      feed, months(r), filteredPage(gen, r, Sorts((cycle + 1) % 5), cycle, deep = false),
      home, range(r), search(gen, m, r, Sorts((cycle + 4) % 5), cycle % 3),
      cursor(m, r, Sorts((cycle + 2) % 5)), search(gen, m, r, Sorts(cycle % 5), 3))
  }
}
