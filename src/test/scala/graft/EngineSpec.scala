package graft

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.entries.{Engine, Entry, Fixture, ListPage, Normalize, SearchOptions, Warehouse}
import graft.functions.Text
import graft.operators.Fts

/** The parameterized listEntries engine vs an independent in-memory
  * model of the reference semantics (filters, corrected dates, sort
  * dispatch incl. SQLite fee CAST, page clamping). The model is written
  * directly from the reference's code paths, not by reusing engine
  * transforms — divergence in either fails here. */
class EngineSpec extends AnyFunSuite with SparkSuite {

  private val corr = Fixture.dateCorrections.map(c => c._1 -> c).toMap

  private case class Row(id: Long, agency: String, resolution: Option[String],
                         fee: Option[String], req: Option[String], comp: Option[String])

  private val model: Seq[Row] = Fixture.entries.map { e =>
    val c = corr.get(e.id)
    Row(e.id, e.agency, e.resolution, e.fee,
      c.flatMap(_._2).orElse(e.request_date),
      c.flatMap(_._3).orElse(e.completion_date))
  }

  private def feeInt(f: Option[String]): Long =
    f.map(_.trim).flatMap(s => "^-?[0-9]+".r.findFirstIn(s)).map(_.toLong).getOrElse(0L)

  private def expectedIds(opts: SearchOptions): (Seq[Long], Long) = {
    var rows = model
    opts.agency.foreach { a =>
      val cands = Normalize.aliasCandidates(a).map(_.toLowerCase).toSet
      rows = rows.filter(r => cands.contains(r.agency.toLowerCase))
    }
    if (opts.resolutions.nonEmpty)
      rows = rows.filter(r => r.resolution.exists(opts.resolutions.contains))
    opts.requestedFrom.foreach(v => rows = rows.filter(_.req.exists(_ >= v)))
    opts.requestedTo.foreach(v => rows = rows.filter(_.req.exists(_ <= v)))
    opts.completedFrom.foreach(v => rows = rows.filter(_.comp.exists(_ >= v)))
    opts.completedTo.foreach(v => rows = rows.filter(_.comp.exists(_ <= v)))
    val sorted = opts.sort match {
      // NULL smallest (SQLite): last under DESC, first under ASC
      case "newest" => rows.sortBy(r => (r.req.isEmpty, r.req.getOrElse(""), r.id))(
        Ordering.Tuple3(Ordering.Boolean, Ordering.String.reverse, Ordering.Long))
      case "oldest" => rows.sortBy(r => (r.req.nonEmpty, r.req.getOrElse(""), r.id))
      case "highest_fee" => rows.sortBy(r => (-feeInt(r.fee), r.id))
      case _ => rows.sortBy(r => -r.id)
    }
    val total = sorted.size.toLong
    val totalPages = math.max(math.ceil(total / opts.pageSize.toDouble).toInt, 1)
    val page = math.min(math.max(opts.page, 1), totalPages)
    (sorted.slice((page - 1) * opts.pageSize, page * opts.pageSize).map(_.id), total)
  }

  private def run(opts: SearchOptions): (Seq[Long], Long) = {
    val got = Engine.listEntries(spark, Fixture.df(spark), opts)
    val ids = got.rows.select("id").collect().map(_.getLong(0)).toSeq
    spark.catalog.clearCache()
    (ids, got.total)
  }

  private def check(opts: SearchOptions): Unit = {
    val (wantIds, wantTotal) = expectedIds(opts)
    val (gotIds, gotTotal) = run(opts)
    assert(gotTotal == wantTotal, s"total mismatch for $opts")
    assert(gotIds == wantIds, s"page mismatch for $opts")
  }

  test("default sort: id DESC, first page") {
    check(SearchOptions(pageSize = 10))
  }

  test("agency alias expansion is case-insensitive and covers all spellings") {
    check(SearchOptions(agency = Some("DEP"), pageSize = 10))
    check(SearchOptions(agency = Some("west virginia state police"), pageSize = 10))
  }

  test("resolution IN-list + corrected request range, newest sort") {
    check(SearchOptions(resolutions = Seq("Granted", "Granted in part"),
      requestedFrom = Some("2025-01-01"), requestedTo = Some("2025-05-31"),
      sort = "newest", pageSize = 5))
  }

  test("corrected dates drive the range filter (id 3 patched into Feb)") {
    // raw request 2025-01-01 but corrected to 2025-02-24: a Feb-only
    // window must include id 3
    val (ids, _) = run(SearchOptions(requestedFrom = Some("2025-02-01"),
      requestedTo = Some("2025-02-28"), pageSize = 50))
    assert(ids.contains(3L))
  }

  test("highest_fee uses SQLite CAST-prefix parse ($1,250.00 -> 1)") {
    check(SearchOptions(sort = "highest_fee", pageSize = 8))
  }

  test("oldest sort puts NULL request dates first (SQLite NULL ordering)") {
    val (ids, _) = run(SearchOptions(sort = "oldest", pageSize = 3))
    assert(ids.head == 16L) // the only NULL request_date in the corpus
    check(SearchOptions(sort = "oldest", pageSize = 3))
  }

  test("page clamps into [1, totalPages] both ways") {
    check(SearchOptions(pageSize = 4, page = 99999))
    check(SearchOptions(pageSize = 4, page = -3))
  }

  test("FTS prefix-AND narrows to documents containing every prefix") {
    val (ids, total) = run(SearchOptions(q = Some("Spark Wind"), pageSize = 50))
    assert(ids == Seq(14L) && total == 1) // 'spark window' in subject
    val (ids2, _) = run(SearchOptions(q = Some("spark"), pageSize = 50))
    assert(ids2.toSet == Set(6L, 14L)) // 'spark' appears in subjects 6 and 14
    // The query splits on JS whitespace (buildFtsQuery's /\s+/), so
    // U+00A0 and U+2028 separate prefixes instead of gluing them.
    assert(Engine.ftsPrefixes("Spark\u00A0Wind\u2028 x") == Seq("spark", "wind", "x"))
    val (ids3, total3) = run(SearchOptions(q = Some("Spark\u00A0Wind"), pageSize = 50))
    assert(ids3 == Seq(14L) && total3 == 1)
  }

  test("FTS: overlapping prefixes ('wind window') — one term credits both") {
    // 'window' matches BOTH prefixes; FTS5 'wind* AND window*' returns
    // every window-doc. First-match-only crediting would return zero rows.
    val (ids, _) = run(SearchOptions(q = Some("wind window"), pageSize = 50))
    assert(ids.toSet == Set(14L, 25L))
  }

  test("FTS: repeated term ('spark spark') dedupes, not an unsatisfiable AND") {
    val (ids, _) = run(SearchOptions(q = Some("spark spark"), pageSize = 50))
    assert(ids.toSet == Set(6L, 14L))
  }

  test("FTS through the maintained index equals the per-call rebuild") {
    // The reference's trigger-kept FTS5 table never recomputes per query
    // (migrations/0002_fts.sql:17-34); the maintained-index route must be
    // a drop-in for the rebuild route on every FTS shape the spec pins.
    val root = util.TmpRoot("engine-fts")
    def sameAsRebuild(corpus: DataFrame, path: String, q: String,
                      pageSize: Int = 50, page: Int = 1): Unit = {
      val opts = SearchOptions(q = Some(q), pageSize = pageSize, page = page)
      val direct = Engine.listEntries(spark, corpus, opts)
      val indexed = Engine.listEntries(spark, corpus, opts, Some(path))
      assert(indexed.total == direct.total, s"total drift for '$q'")
      assert(indexed.page == direct.page, s"page clamp drift for '$q'")
      assert(indexed.rows.select("id").collect().map(_.getLong(0)).toSeq ==
        direct.rows.select("id").collect().map(_.getLong(0)).toSeq,
        s"page drift for '$q'")
    }
    val fixture = Fixture.df(spark)
    val path = root + "/terms"
    Engine.writeFtsIndex(spark, fixture, path)
    for (q <- Seq("Spark Wind", "spark", "wind window", "spark spark", "zzz-none"))
      sameAsRebuild(fixture, path, q)
    // prefixes in two directories plus one that has no directory
    assert(!new java.io.File(s"$path/term_pfx=x").exists)
    sameAsRebuild(fixture, path, "spark wind xylo")
    // a searched page past the end clamps to the last page
    sameAsRebuild(fixture, path, "spark", pageSize = 1, page = 5)
    // digit-leading prefixes: every document also holds its id as a term
    val numbered = fixture.withColumn("details",
      org.apache.spark.sql.functions.concat_ws(" ",
        org.apache.spark.sql.functions.col("details"),
        org.apache.spark.sql.functions.col("id")))
    Engine.writeFtsIndex(spark, numbered, root + "/numbered")
    for (q <- Seq("2", "1 spark", "26 discharge"))
      sameAsRebuild(numbered, root + "/numbered", q)
    // an index written over an empty corpus holds no prefix directory
    val empty = fixture.limit(0)
    Engine.writeFtsIndex(spark, empty, root + "/empty")
    sameAsRebuild(empty, root + "/empty", "spark")
    // a missing index root is an error, not an empty result
    intercept[java.io.FileNotFoundException] {
      Engine.listEntries(spark, fixture, SearchOptions(q = Some("spark")),
        Some(root + "/missing"))
    }
  }

  /** The fixture as parquet read back with its known schema, plus its FTS
    * index: the read itself runs no job, so a count is the route's own. */
  private lazy val stored: (DataFrame, String) = {
    val root = util.TmpRoot("engine-jobs")
    Fixture.df(spark).write.parquet(root + "/entries")
    val entries = spark.read.schema(Encoders.product[Entry].schema).parquet(root + "/entries")
    Engine.writeFtsIndex(spark, entries, root + "/terms")
    (entries, root + "/terms")
  }

  private def jobs[T](body: => T): (T, Int) =
    org.apache.spark.graft.JobCount(spark.sparkContext)(body)

  private def pageIds(p: ListPage): Seq[Long] =
    p.rows.select("id").collect().map(_.getLong(0)).toSeq

  test("job count: a list page runs 2 Spark jobs, a page past the end 2") {
    val (entries, _) = stored
    val (first, n1) = jobs(Engine.listEntries(spark, entries, SearchOptions(pageSize = 5)))
    assert(pageIds(first) == expectedIds(SearchOptions(pageSize = 5))._1)
    assert(n1 == 2, "list page")
    val past = SearchOptions(pageSize = 5, page = 99)
    val (last, n2) = jobs(Engine.listEntries(spark, entries, past))
    assert(last.page == 6 && pageIds(last) == expectedIds(past)._1)
    assert(n2 == 2, "page past the end")
  }

  test("job count: an indexed 2-word search runs 3 Spark jobs, a missing prefix at most 1") {
    val (entries, terms) = stored
    val (hit, n1) = jobs(Engine.listEntries(spark, entries,
      SearchOptions(q = Some("spark wind")), Some(terms)))
    assert(hit.total == 1 && pageIds(hit) == Seq(14L))
    assert(n1 == 3, "indexed 2-word search")
    val (miss, n2) = jobs(Engine.listEntries(spark, entries,
      SearchOptions(q = Some("spark xylo")), Some(terms)))
    assert(miss.total == 0 && pageIds(miss).isEmpty)
    assert(n2 <= 1, "search whose prefix directory is missing")
  }

  test("job count: a cursor page runs 1 Spark job") {
    val (entries, _) = stored
    val (ids, n) = jobs(Engine.listEntriesAfter(spark, entries,
      SearchOptions(sort = "id", pageSize = 5), None, 20L).select("id").collect().map(_.getLong(0)).toSeq)
    assert(ids == Seq(19L, 18L, 17L, 16L, 15L))
    assert(n == 1, "cursor page")
  }

  test("FTS probe fails loudly above its id bound") {
    // The probe's answer becomes an id list in the served plan, so an
    // unselective prefix must fail rather than grow with the corpus.
    val (_, terms) = stored
    assert(Fts.probeIds(spark, terms, Seq("s"), maxIds = 50).nonEmpty)
    val e = intercept[IllegalArgumentException](Fts.probeIds(spark, terms, Seq("s"), maxIds = 2))
    assert(e.getMessage.contains("more than 2 ids"))
  }

  test("Warehouse.read's schema matches what writeCorrected writes") {
    // The read skips footer inference, so the schema it derives from the
    // writer's projection must be the one parquet infers from the files.
    val root = util.TmpRoot("engine-schemas")
    def fields(s: StructType) = s.fields.map(f => f.name -> f.dataType).toSeq
    Warehouse.writeCorrected(spark, Fixture.df(spark), root + "/warehouse")
    assert(fields(spark.read.parquet(root + "/warehouse").schema) == fields(Warehouse.schema(spark)))
  }

  test("cursor pagination replays the exact OFFSET page sequence") {
    for (sort <- Seq("newest", "oldest", "highest_fee", "default")) {
      val opts = SearchOptions(sort = sort, pageSize = 7)
      val (fullOrder, _) = expectedIds(opts.copy(pageSize = 100))
      val byId = model.map(r => r.id -> r).toMap
      def cursorOf(id: Long): (Option[String], Long) = {
        val r = byId(id)
        sort match {
          case "newest" | "oldest" => (r.req, id)
          case "highest_fee"       => (Some(feeInt(r.fee).toString), id)
          case _                   => (None, id)
        }
      }
      var walked = fullOrder.take(7)
      assert(walked == expectedIds(opts)._1, s"first page differs for $sort")
      while (walked.size < fullOrder.size) {
        val (last, lastId) = cursorOf(walked.last)
        val page = Engine.listEntriesAfter(spark, Fixture.df(spark), opts, last, lastId)
          .select("id").collect().map(_.getLong(0)).toSeq
        assert(page == fullOrder.slice(walked.size, walked.size + 7),
          s"cursor page after id=$lastId differs for $sort")
        walked ++= page
      }
      // stepping past the final row yields an empty page
      val (lastV, lastI) = cursorOf(walked.last)
      assert(Engine.listEntriesAfter(spark, Fixture.df(spark), opts, lastV, lastI).count() == 0)
    }
  }

  test("listEntries rejects out-of-bound pageSize (driver-memory guard)") {
    intercept[IllegalArgumentException] {
      Engine.listEntries(spark, Fixture.df(spark), SearchOptions(pageSize = 0))
    }
    intercept[IllegalArgumentException] {
      Engine.listEntries(spark, Fixture.df(spark),
        SearchOptions(pageSize = Engine.MaxPageSize + 1))
    }
    // the keyed-cursor mode holds the same bound
    intercept[IllegalArgumentException] {
      Engine.listEntriesAfter(spark, Fixture.df(spark),
        SearchOptions(pageSize = Engine.MaxPageSize + 1), None, Long.MaxValue)
    }
  }

  test("highest_fee cursor rejects a missing or malformed value (fail fast)") {
    val opts = SearchOptions(sort = "highest_fee", pageSize = 5)
    // fee is never null, so None can only be a caller bug — resuming from
    // fee=0 would silently skip every positive-fee row.
    intercept[IllegalArgumentException] {
      Engine.listEntriesAfter(spark, Fixture.df(spark), opts, None, 1L)
    }
    intercept[IllegalArgumentException] {
      Engine.listEntriesAfter(spark, Fixture.df(spark), opts, Some("12.5x"), 1L)
    }
  }

  test("cursor handles the NULL-tail transition under 'oldest' (nulls first)") {
    val opts = SearchOptions(sort = "oldest", pageSize = 1)
    // id 16 is the single NULL request_date: first row under oldest.
    val first = Engine.listEntries(spark, Fixture.df(spark), opts)
    assert(first.rows.select("id").collect().map(_.getLong(0)).toSeq == Seq(16L))
    // cursor from inside the null stripe: last = None
    val next = Engine.listEntriesAfter(spark, Fixture.df(spark), opts, None, 16L)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(next == expectedIds(opts.copy(pageSize = 100))._1.slice(1, 2))
  }

  test("distinctResolutions and resolutionCounts match the model") {
    val want = model.flatMap(_.resolution).filter(_.nonEmpty).distinct.sorted
    val got = Engine.distinctResolutions(Fixture.df(spark))
      .collect().map(_.getString(0)).toSeq
    assert(got == want)
    val counts = Engine.resolutionCounts(Fixture.df(spark))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantCounts = model.flatMap(_.resolution).filter(_.nonEmpty)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(counts == wantCounts)
  }

  test("latestEntryId is the sync cursor with 0 on empty") {
    assert(Engine.latestEntryId(Fixture.df(spark)) == 26L)
    assert(Engine.latestEntryId(Fixture.df(spark).where("id < 0")) == 0L)
  }

  test("option-combination sweep: engine == model across the cross product") {
    val combos = for {
      agency <- Seq(None, Some("DEP"), Some("Department of Education"))
      res <- Seq(Nil, Seq("Granted"), Seq("Granted", "Rejected"))
      range <- Seq((None, None), (Some("2025-01-01"), Some("2025-05-31")))
      sort <- Seq("newest", "oldest", "highest_fee", "default")
      page <- Seq(1, 2)
    } yield SearchOptions(agency = agency, resolutions = res,
      requestedFrom = range._1, requestedTo = range._2,
      sort = sort, page = page, pageSize = 4)
    // deterministic thinning: every 5th combo (29 of 144) keeps runtime
    // bounded while walking all option dimensions
    combos.zipWithIndex.filter(_._2 % 5 == 0).map(_._1).foreach(check)
  }

  test("listAgencies: substring-AND search, comparator sorts, paging") {
    import graft.entries.AgencyEngine
    val stats = AgencyEngine.agencyStats(spark, Fixture.df(spark), Fixture.AsOf)
      .persist()
    try {
      val all = stats.collect().map(r => (r.getString(0), r.getLong(2))).toMap
      // most_requests (default): descending by requests, slug tiebreak
      val most = AgencyEngine.listAgencies(stats, None, "most_requests", 1, 100)
        .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
      assert(most.map(_._1).toSet == all.keySet)
      assert(most.map(_._2) == most.map(_._2).sortBy(-_))
      assert(most == most.sortBy(t => (-t._2, t._1)))
      // substring AND: both terms must hit name+slug
      val hits = AgencyEngine.listAgencies(stats, Some("department of"), "most_requests", 1, 100)
        .collect().map(_.getString(0)).toSeq
      assert(hits.nonEmpty && hits.forall(_.contains("department-of")))
      // terms split on JS whitespace: U+00A0 and U+2028 separate like ' '
      for (q <- Seq("department\u00A0of", "\u2028department\u2028of\u2028"))
        assert(AgencyEngine.listAgencies(stats, Some(q), "most_requests", 1, 100)
          .collect().map(_.getString(0)).toSeq == hits, q)
      // paging: page 2 of size 3 is rows 4-6 of the full ordering
      val p2 = AgencyEngine.listAgencies(stats, None, "most_requests", 2, 3)
        .collect().map(_.getString(0)).toSeq
      assert(p2 == most.map(_._1).slice(3, 6))
      // a page below 1 reads as page 1, never a negative OFFSET
      for (p <- Seq(0, -3)) {
        val low = AgencyEngine.listAgencies(stats, None, "most_requests", p, 3)
          .collect().map(_.getString(0)).toSeq
        assert(low == most.map(_._1).take(3), s"page $p")
      }
      for (size <- Seq(0, Engine.MaxPageSize + 1))
        intercept[IllegalArgumentException] {
          AgencyEngine.listAgencies(stats, None, "most_requests", 1, size)
        }
      // agencyBySlug point lookup
      val one = AgencyEngine.agencyBySlug(stats, most.head._1).collect()
      assert(one.length == 1 && one.head.getString(0) == most.head._1)
    } finally { stats.unpersist(); () }
  }
}
