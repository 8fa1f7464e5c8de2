package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.entries.Sync

/** Sync pipeline goldens — parser (sync.ts:83-130), date normalization
  * (sync.ts:59-76), and the drift-tolerance loop (sync.ts:177-212)
  * including stop conditions, interior gaps, and re-run determinism. */
class SyncSpec extends AnyFunSuite with SparkSuite {

  test("normalizeDate: M/D/YYYY pads, ISO passes, junk nulls, no validation") {
    assert(Sync.normalizeDate("3/5/2024").contains("2024-03-05"))
    assert(Sync.normalizeDate("12/31/1999").contains("1999-12-31"))
    assert(Sync.normalizeDate(" 2024-03-05 ").contains("2024-03-05"))
    assert(Sync.normalizeDate("13/45/2024").contains("2024-13-45")) // faithful: no validation
    assert(Sync.normalizeDate("not a date").isEmpty)
    assert(Sync.normalizeDate("").isEmpty)
    assert(Sync.normalizeDate(null).isEmpty)
  }

  test("normalizeKey strips colons, lowers, collapses non-alnum (sync.ts:50-57)") {
    assert(Sync.normalizeKey("Request Date:") == "request_date")
    assert(Sync.normalizeKey("  Fee ($) ") == "fee")
    assert(Sync.normalizeKey("::") == "")
  }

  test("parseEntry: full page with panels") {
    val entry = Sync.parseEntry(Sync.fixtureTransport(27L), 27L).get
    assert(entry.agency == "Department of Health")
    assert(entry.organization.contains("Health Watch"))
    assert(entry.request_date.contains("2025-04-02")) // 4/2/2025 normalized
    assert(entry.completion_date.contains("2025-04-15"))
    assert(entry.subject.contains("inspection schedules")) // whitespace collapsed
    assert(entry.is_amended == 0)
  }

  test("parseEntry: amended flag, empty resolution -> None, odd date kept") {
    val entry = Sync.parseEntry(Sync.fixtureTransport(28L), 28L).get
    assert(entry.is_amended == 1)
    assert(entry.resolution.isEmpty)
    assert(entry.request_date.contains("2025-13-45"))
    assert(entry.first_name.contains("Pat"))
  }

  test("parseEntry golden: reconstructed SearchedEntryDetails page, field-level") {
    // A faithfully reconstructed real-DOM-shaped page (ASP.NET +
    // Bootstrap: compound class attributes, ViewState noise, nested
    // <span>/<br /> inside values, multi-line text, a panel-body with
    // no <p>) — the shapes node-html-parser's CSS selectors see on the
    // live site (reference src/lib/sync.ts:83-130). Every field
    // asserted, including the amended flag (truthy non-empty value
    // inside a nested span), key normalization from "First Name:" to
    // first_name, empty middle name -> None, and the no-<p> panel
    // being SKIPPED rather than stealing the next panel's value.
    val html = {
      val in = getClass.getResourceAsStream("/golden/SearchedEntryDetails_4521.html")
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val e = Sync.parseEntry(html, 4521L).get
    assert(e.id == 4521L)
    assert(e.agency == "West Virginia State Police")
    assert(e.organization.contains("Mountain State Spotlight & Partners, LLC"))
    assert(e.first_name.contains("María"))
    assert(e.middle_name.isEmpty)           // empty cell -> None, not Some("")
    assert(e.last_name.contains("O'Leary"))
    assert(e.request_date.contains("2024-07-04"))    // 7/4/2024 padded
    assert(e.completion_date.contains("2024-08-15")) // 08/15/2024
    assert(e.entry_date.contains("2024-08-16"))      // ISO passthrough
    assert(e.fee.contains("$25.50"))
    assert(e.is_amended == 1)               // nested-span value is truthy
    assert(e.subject.contains(
      "Trooper dash-cam & body-cam retention schedules, 2022-2024"))
    assert(e.details.contains(
      "All retention policies in effect, including superseded revisions & appendices."))
    assert(e.resolution.contains("Granted in Part")) // multi-line collapsed
    assert(e.response.contains("Records produced with redactions; see cover letter."))
  }

  test("parseEntry: panel without <p> never captures across a boundary — even at the end") {
    // Two theft shapes the reference's per-panel querySelector can
    // never produce: (a) a no-<p> panel stealing the NEXT panel's
    // value, (b) the LAST panel (no next marker) stealing the page
    // footer's <p>. Pin exact values: Details must bind to its own
    // paragraph, and Response (the trailing no-<p> panel) must be
    // absent — not the copyright line.
    val html =
      """<html><body><div class="container">
        |<div class="container-requestitems">
        |  <div class="panel panel-default"><div class="panel-body">
        |    <strong>Subject</strong>
        |  </div></div>
        |  <div class="panel panel-default"><div class="panel-body">
        |    <strong>Details</strong>
        |    <p>the real details text</p>
        |  </div></div>
        |  <div class="panel panel-default"><div class="panel-body">
        |    <strong>Response</strong>
        |  </div></div>
        |</div>
        |<footer><p>&copy; 2024 Secretary of State</p></footer>
        |</div></body></html>""".stripMargin
    val e = Sync.parseEntry(html, 99L).get
    assert(e.details.contains("the real details text"),
      "Details must bind to its own paragraph")
    assert(e.subject.isEmpty, "no-<p> Subject panel must not steal Details' value")
    assert(e.response.isEmpty, "trailing no-<p> panel must not capture the footer")
  }

  test("parseEntry: class markers match whole tokens, not hyphen extensions") {
    // `.panel-body` must not match `panel-body-collapsed` (CSS token
    // semantics; '-' is a regex word boundary so \b would match). A
    // modifier-classed decoy panel between two real ones must not
    // split the real panel's strong/p pairing.
    val html =
      """<html><body>
        |<div class="container-requestitems">
        |  <div class="panel-body"><strong>Subject</strong><p>real subject</p></div>
        |  <div class="panel-body-collapsed"><strong>Decoy</strong></div>
        |  <div class="panel-body"><strong>Details</strong><p>real details</p></div>
        |</div></body></html>""".stripMargin
    val e = Sync.parseEntry(html, 98L).get
    assert(e.subject.contains("real subject"))
    assert(e.details.contains("real details"))
  }

  test("parseEntry: entity decode and unparseable completion -> None") {
    val entry = Sync.parseEntry(Sync.fixtureTransport(30L), 30L).get
    assert(entry.details.contains("Cost & schedule"))
    assert(entry.completion_date.isEmpty) // "not yet"
    // Every character reference decodes, as `.text` does, BEFORE cleaning:
    // decimal/hex refs, &nbsp; collapsed and trimmed like JS \s, the
    // windows-1252 remap, and one pass only (`&amp;#233;` stays `&#233;`).
    val refs = Sync.parseEntry(Sync.fixtureHtml("Jos&#233; &#X41;gency",
      Seq("Organization:" -> "&nbsp;O&#x2019;Brien&nbsp;&nbsp;Law&#160;",
        "Fee:" -> "&amp;#233; &amp;amp; &#150;"),
      Seq("Subject" -> "caf&#xE9;\u2003m&#000000233;nu", "Details" -> "&lt;b&gt; &quot;x&quot; &apos;y&#39;")),
      41L).get
    assert(refs.agency == "José Agency")
    assert(refs.organization.contains("O’Brien Law"))
    assert(refs.fee.contains("&#233; &amp; –"))
    assert(refs.subject.contains("café ménu"))
    assert(refs.details.contains("<b> \"x\" 'y'"))
    assert(Sync.cleanText("\u00A0 a\u2003\u00A0b \uFEFF") == "a b")
  }

  test("parseEntry: 404-shaped page has no fields -> None") {
    assert(Sync.parseEntry(Sync.NotFoundHtml, 31L).isEmpty)
  }

  test("parseEntry: agency defaults to Unknown when absent") {
    val html = Sync.fixtureHtml("", Seq("Fee:" -> "$1"), Seq())
      .replaceFirst("(?s)<div class=\"content-col-label\">.*?</div>\\s*<div class=\"content-col-data\">.*?</div>\\s*</div>", "<div>")
    val parsed = Sync.parseEntry(Sync.fixtureHtml("x", Seq("Fee:" -> "$1"), Seq()), 1L)
    assert(parsed.get.agency == "x") // sanity on the helper itself
    // A page whose agency data cell is empty:
    val noAgency = Sync.parseEntry(Sync.fixtureHtml("", Seq("Fee:" -> "$1"), Seq()), 2L)
    assert(noAgency.get.agency == "Unknown")
  }

  test("classifyPages: quarantine split partitions the input, rejects are replayable") {
    import spark.implicits._
    import graft.entries.Sync
    val pages = Sync.fixtureTransport.toSeq ++
      Seq((31L, Sync.NotFoundHtml), (32L, "%%% garbage %%%"))
    val out = Sync.classifyPages(spark.createDataset(pages)).collect()
    // every input id appears exactly once, as parsed XOR quarantined
    assert(out.map(_.id).sorted.toSeq == pages.map(_._1).sorted)
    assert(out.forall(o => (o.status == "parsed") == o.entry.isDefined))
    assert(out.forall(o => (o.status == "quarantined") == o.reason.isDefined))
    // the good split equals parseEntry's direct output (no drift)
    val good = out.flatMap(_.entry).sortBy(_.id).toSeq
    val direct = pages.flatMap { case (id, h) => Sync.parseEntry(h, id) }.sortBy(_.id)
    assert(good == direct)
    // a reject carries the raw payload's md5 — the replay key
    val rej = out.find(_.id == 32L).get
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest("%%% garbage %%%".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rej.fingerprint == md5 && rej.n_bytes == "%%% garbage %%%".length.toLong)
  }

  test("runSync: interior gap absorbed, 3-in-a-row stops (drift golden)") {
    val (res, added) = Sync.runSync(Sync.fixtureTransport.get, latestInDb = 26)
    assert(res == Sync.SyncResult(3, 7, 27, 33, 3))
    assert(added.map(_.id) == Seq(27L, 28L, 30L))
  }

  test("runSync: nothing upstream -> 0 added, 3 checked") {
    val (res, added) = Sync.runSync(_ => None, latestInDb = 100)
    assert(res == Sync.SyncResult(0, 3, 101, 103, 3))
    assert(added.isEmpty)
  }

  test("runSync: unparseable pages count as misses") {
    val (res, _) = Sync.runSync(_ => Some(Sync.NotFoundHtml), latestInDb = 0)
    assert(res == Sync.SyncResult(0, 3, 1, 3, 3))
  }

  test("runSync is deterministic across re-runs") {
    val a = Sync.runSync(Sync.fixtureTransport.get, 26)
    val b = Sync.runSync(Sync.fixtureTransport.get, 26)
    assert(a == b)
  }

  test("runSync respects custom drift tolerance") {
    // tolerance 1: stops at the first miss (id 29), having added 27, 28
    val (res, added) = Sync.runSync(Sync.fixtureTransport.get, 26, driftTolerance = 1)
    assert(res == Sync.SyncResult(2, 3, 27, 29, 1))
    assert(added.map(_.id) == Seq(27L, 28L))
  }

  test("runSyncBatch replays runSync exactly across batch sizes and transports") {
    // batch=1 degenerates to the serial loop; batch=4 crosses a batch
    // boundary mid-drift; batch=256 stops inside the first batch.
    val cases = Seq[(Long => Option[String], Long, Int)](
      (Sync.fixtureTransport.get, 26L, 3),
      (Sync.fixtureTransport.get, 26L, 1),
      ((_: Long) => None, 100L, 3),
      ((_: Long) => Some(Sync.NotFoundHtml), 0L, 3))
    for ((transport, latest, tol) <- cases; batch <- Seq(1, 2, 4, 256)) {
      val (serialRes, serialAdded) = Sync.runSync(transport, latest, tol)
      val (batchRes, batchAdded) =
        Sync.runSyncBatch(spark, transport, latest, tol, batch = batch)
      assert(batchRes == serialRes, s"result mismatch at batch=$batch tol=$tol")
      assert(batchAdded.collect().toSeq.sortBy(_.id) == serialAdded.sortBy(_.id),
        s"added mismatch at batch=$batch tol=$tol")
    }
  }
}
