package mirrorbench

import java.time.LocalDate
import java.time.temporal.ChronoUnit
import graft.entries.{Entry, Fixture, Normalize}
import graft.functions.Text

/** Plain-Scala model of the mirror over the generated rows: the
  * correctness oracle every response is checked against. It re-derives
  * each answer from the rows alone — corrections overlay, sort orders,
  * prefix-AND search, per-slug aggregates, timelines, feeds, warehouse
  * counts — without Spark. The agency identity and alias-candidate
  * functions are the reference-semantics string functions the program's
  * unit tests pin; the oracle checks the distributed pipelines around
  * them.
  */
final class Model(val rows: IndexedSeq[Entry]) {
  import Model._

  private val fixes: Map[Long, (Option[String], Option[String])] =
    Fixture.dateCorrections.map { case (id, r, c) => id -> (r, c) }.toMap

  private def correctedRequest(e: Entry) = fixes.get(e.id).flatMap(_._1).orElse(e.request_date)
  private def correctedCompletion(e: Entry) = fixes.get(e.id).flatMap(_._2).orElse(e.completion_date)

  private val creq = rows.map(correctedRequest)
  private val ccomp = rows.map(correctedCompletion)
  private val byId: Map[Long, Int] = rows.indices.map(i => rows(i).id -> i).toMap

  lazy val maxId: Long = if (rows.isEmpty) 0L else rows.map(_.id).max

  private lazy val tokens: IndexedSeq[Array[String]] = rows.map { e =>
    Seq(Some(e.agency), e.organization, e.first_name, e.last_name, e.subject, e.details,
      e.resolution, e.response).flatten.flatMap(ftsTokens).distinct.toArray
  }

  // --- entry list, cursor and search pages ---------------------------------

  private def ordering(sort: String): Ordering[Int] = {
    def descNullsLast(k: IndexedSeq[Option[String]]): Ordering[Int] = (a, b) =>
      (k(a), k(b)) match {
        case (Some(x), Some(y)) if x != y => y.compareTo(x)
        case (Some(_), None) => -1
        case (None, Some(_)) => 1
        case _ => java.lang.Long.compare(rows(a).id, rows(b).id)
      }
    sort match {
      case "newest" => descNullsLast(creq)
      case "recently_completed" => descNullsLast(ccomp)
      case "oldest" => (a, b) => (creq(a), creq(b)) match {
        case (Some(x), Some(y)) if x != y => x.compareTo(y)
        case (None, Some(_)) => -1
        case (Some(_), None) => 1
        case _ => java.lang.Long.compare(rows(a).id, rows(b).id)
      }
      case "highest_fee" => (a, b) => {
        val c = java.lang.Long.compare(feeInt(rows(b).fee), feeInt(rows(a).fee))
        if (c != 0) c else java.lang.Long.compare(rows(a).id, rows(b).id)
      }
      case _ => (a, b) => java.lang.Long.compare(rows(b).id, rows(a).id)
    }
  }

  /** Row indices matching the filters, in the requested sort order. */
  def filtered(q: ListQuery): IndexedSeq[Int] = {
    val prefixes = q.q.map(queryPrefixes).getOrElse(Nil)
    val cands = q.agency.map(a => Normalize.aliasCandidates(a).map(_.toLowerCase).toSet)
    def inRange(v: Option[String], from: Option[String], to: Option[String]) =
      from.forall(f => v.exists(_ >= f)) && to.forall(t => v.exists(_ <= t))
    rows.indices.filter { i =>
      val e = rows(i)
      (prefixes.isEmpty || prefixes.forall(p => tokens(i).exists(_.startsWith(p)))) &&
      cands.forall(_.contains(e.agency.toLowerCase)) &&
      (q.resolutions.isEmpty || e.resolution.exists(q.resolutions.contains)) &&
      inRange(creq(i), q.requestedFrom, q.requestedTo) &&
      inRange(ccomp(i), q.completedFrom, q.completedTo)
    }.sorted(ordering(q.sort))
  }

  /** The cursor value of a row under a sort: the sort key as the engine's
    * keyed cursor takes it. */
  def cursorKey(sort: String, id: Long): Option[String] = {
    val i = byId(id)
    sort match {
      case "newest" | "oldest" => creq(i)
      case "recently_completed" => ccomp(i)
      case "highest_fee" => Some(feeInt(rows(i).fee).toString)
      case _ => None
    }
  }

  def expectList(q: ListQuery): Response.ListPage = {
    val all = filtered(q)
    val totalPages = math.max(math.ceil(all.size / q.pageSize.toDouble).toInt, 1)
    val page = math.min(math.max(q.page, 1), totalPages)
    val slice = all.slice((page - 1) * q.pageSize, page * q.pageSize)
    Response.ListPage(all.size.toLong, page, slice.map(rows(_).id), slice.map(i => displayAgency(rows(i).agency)))
  }

  def expectCursor(q: ListQuery, lastId: Long): Response.Ids = {
    val all = filtered(q)
    val at = all.indexWhere(rows(_).id == lastId)
    require(at >= 0, s"cursor anchor $lastId is not in the filtered set")
    Response.Ids(all.slice(at + 1, at + 1 + q.pageSize).map(rows(_).id))
  }

  // --- agency pages ----------------------------------------------------------

  private lazy val identity: Map[String, (String, String)] =
    rows.map(_.agency).distinct.map { raw =>
      raw -> Text.agencyIdentity(raw.replaceAll("'{2,}", "'"), Fixture.aliasGroups)
    }.toMap

  final case class SlugStats(slug: String, requests: Long, avgResponse: Double)

  /** Per-slug request counts and all-time average response days, over the
    * raw (uncorrected) dates as agencyStats reads them. */
  lazy val slugStats: Map[String, SlugStats] =
    rows.groupBy(e => identity(e.agency)._2).map { case (slug, es) =>
      val valid = es.filter(e => e.request_date.isDefined && e.completion_date.isDefined &&
        e.completion_date.get >= e.request_date.get)
      val days = valid.flatMap(e => for (r <- isoDate(e.request_date.get);
                                        c <- isoDate(e.completion_date.get))
        yield ChronoUnit.DAYS.between(r, c))
      val avg = if (valid.isEmpty) 0.0 else days.sum.toDouble / valid.size
      slug -> SlugStats(slug, es.size.toLong, avg)
    }

  def expectAgencyIndex(sort: String, page: Int, pageSize: Int): Response.Agencies = {
    val all = slugStats.values.toIndexedSeq
    val sorted = sort match {
      case "least_requests" => all.sortBy(s => (s.requests, s.slug))
      case "highest_avg_response_time" => all.sortBy(s => (-s.avgResponse, s.slug))
      case "lowest_avg_response_time" => all.sortBy(s => (s.avgResponse, s.slug))
      case _ => all.sortBy(s => (-s.requests, s.slug))
    }
    Response.Agencies(sorted.slice((page - 1) * pageSize, page * pageSize).map(s => s.slug -> s.requests))
  }

  private def scoped(agency: String): IndexedSeq[Entry] = {
    val cands = Normalize.aliasCandidates(agency).map(_.toLowerCase).toSet
    rows.filter(e => cands.contains(e.agency.toLowerCase))
  }

  def expectTimeline(agency: String): Response.Timeline = {
    val inRange = scoped(agency).flatMap(_.completion_date).filter(_ <= AsOf)
    if (inRange.isEmpty) return Response.Timeline(0, Map.empty)
    val start = LocalDate.parse(inRange.min)
    val days = ChronoUnit.DAYS.between(start, LocalDate.parse(AsOf)).toInt + 1
    val spine = (0 until days).map(start.plusDays(_).toString).toSet
    val buckets = scoped(agency).filter(e => e.completion_date.exists(spine.contains))
      .groupBy(e => bucket(e.resolution)).map { case (b, es) => b -> es.size.toLong }
    Response.Timeline(days, buckets)
  }

  def expectFeed(agency: String, limit: Int): Response.Ids =
    Response.Ids(scoped(agency).map(_.id).sorted(Ordering[Long].reverse).take(limit))

  def expectHome(asOfYear: Int): Response.Home = {
    val asOf = LocalDate.parse(AsOf)
    def since(n: Int) = rows.count(_.request_date.exists(_ >= asOf.minusDays(n).toString)).toLong
    val d = rows.flatMap { e =>
      for (r <- e.request_date.flatMap(isoDate); c <- e.completion_date.flatMap(isoDate)
           if c.getYear <= asOfYear) yield ChronoUnit.DAYS.between(r, c)
    }.filter(_ >= 0)
    Response.Home(rows.size.toLong, since(30), since(365),
      if (d.isEmpty) 0.0 else d.sum.toDouble / d.size)
  }

  // --- warehouse reports ------------------------------------------------------

  def expectMonths(year: Int): Response.Months = Response.Months(
    creq.flatten.filter(_.take(4) == year.toString).groupBy(_.take(7))
      .map { case (m, xs) => m -> xs.size.toLong })

  def expectRange(from: String, to: String): Response.Count =
    Response.Count(creq.flatten.count(d => d >= from && d <= to).toLong)
}

object Model {
  val AsOf: String = Fixture.AsOf

  /** Engine.ftsPrefixes' contract: lowercase, split on whitespace, strip
    * non-alphanumerics per term, drop empties, dedupe. */
  def queryPrefixes(q: String): Seq[String] =
    q.toLowerCase.split("\\s+").toSeq.map(_.replaceAll("[^a-z0-9]", "")).filter(_.nonEmpty).distinct

  /** Cols.ftsTokens' contract: diacritic fold (NFD, drop combining marks),
    * lowercase, split on non-alphanumerics. */
  def ftsTokens(s: String): Seq[String] =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}+", "").toLowerCase.split("[^a-z0-9]+").toSeq.filter(_.nonEmpty)

  /** SQLite CAST(fee AS INTEGER): the leading integer of the space-trimmed
    * text, 0 when there is none. */
  def feeInt(fee: Option[String]): Long = fee.map(_.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse)
    .flatMap(t => "^-?[0-9]+".r.findFirstIn(t)).flatMap(_.toLongOption).getOrElse(0L)

  def bucket(res: Option[String]): String = res.getOrElse("").trim.toLowerCase match {
    case "granted" => "granted"
    case "granted in part" => "granted_in_part"
    case "exempted" => "exempted"
    case "rejected" => "rejected"
    case _ => "other"
  }

  def isoDate(s: String): Option[LocalDate] = scala.util.Try(LocalDate.parse(s)).toOption

  /** The agency a returned entry row displays: the canonical name of the
    * apostrophe-cleaned raw agency. */
  def displayAgency(raw: String): String =
    Text.normalizeAgencyName(raw.replaceAll("'{2,}", "'"), Fixture.aliasGroups)
}
