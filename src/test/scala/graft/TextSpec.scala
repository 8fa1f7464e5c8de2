package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Text
import graft.entries.Fixture

/** Hand-computed goldens for the reference string semantics
  * (src/lib/utils.ts:42-59, src/lib/corrections.ts:26-57). These pin the
  * UDF surface that the DuckDB oracle can only check circularly. */
class TextSpec extends AnyFunSuite {

  /** Deterministic property-style sweep (seeded; the scalatestplus bridge
    * is not in the offline artifact cache, so properties run over a fixed
    * generated corpus instead of ScalaCheck's runner). */
  private def sweep(n: Int)(body: scala.util.Random => Unit): Unit = {
    val rnd = new scala.util.Random(42)
    (1 to n).foreach(_ => body(rnd))
  }

  test("slugify goldens (utils.ts:42-49)") {
    assert(Text.slugify("Department of Health") == "department-of-health")
    assert(Text.slugify("A + B/C  Agency") == "a-b-c-agency")
    assert(Text.slugify(" WV Sec-of-State!! ") == "wv-sec-of-state")
    assert(Text.slugify("McDowell County Sheriff's Office") == "mcdowell-county-sheriffs-office")
    assert(Text.slugify("Café Bureau | Unit #9") == "caf-bureau-unit-9")
    assert(Text.slugify("---") == "")
    // JS `\s` holds U+00A0 and U+2028; Java's `\s` does not
    assert(Text.slugify("Dept\u00A0of\u2028Health") == "dept-of-health")
  }

  test("slugify is idempotent") {
    sweep(500) { rnd =>
      val s = rnd.nextString(rnd.nextInt(30))
      val once = Text.slugify(s)
      assert(Text.slugify(once) == once)
    }
  }

  test("titlify goldens (utils.ts:51-59)") {
    assert(Text.titlify("hello world") == "Hello World")
    assert(Text.titlify("dep") == "DEP") // single token -> acronym upper
    assert(Text.titlify("dep", disableCapAcro = true) == "Dep")
    assert(Text.titlify("governor's office") == "Governor's Office")
    assert(Text.titlify("office of the governor") == "Office of the Governor")
    assert(Text.titlify("and more") == "And More") // stop-word kept at offset 0
    assert(Text.titlify("a-b-c") == "A B C") // hyphens become spaces
    assert(Text.titlify("o''neil agency") == "O'neil Agency") // collapse + no cap after '
    assert(Text.titlify("department of environmental protection") ==
      "Department of Environmental Protection")
  }

  test("normalizeToken strips to lowercase alphanumerics (corrections.ts:26-28)") {
    assert(Text.normalizeToken("Governor's Office") == "governorsoffice")
    assert(Text.normalizeToken("A + B/C  Agency") == "abcagency")
    assert(Text.normalizeToken("---") == "")
  }

  test("canonicalAgencyMatch via titlify-lower and token forms (corrections.ts:30-42)") {
    val g = Fixture.aliasGroups
    assert(Text.canonicalAgencyMatch("DEP", g).contains("Department of Environmental Protection"))
    assert(Text.canonicalAgencyMatch("dep", g).contains("Department of Environmental Protection"))
    assert(Text.canonicalAgencyMatch("governors office", g).contains("Office of the Governor"))
    assert(Text.canonicalAgencyMatch("No Such Agency", g).isEmpty)
    assert(Text.canonicalAgencyMatch("", g).isEmpty)
  }

  test("normalizeAgencyName goldens (corrections.ts:44-57)") {
    val g = Fixture.aliasGroups
    assert(Text.normalizeAgencyName("DEP", g) == "Department of Environmental Protection")
    assert(Text.normalizeAgencyName("Departmint of Health", g) == "Department of Health")
    assert(Text.normalizeAgencyName("Tcity of Morgantown", g) == "City of Morgantown")
    assert(Text.normalizeAgencyName("City  of   Morgantown", g) == "City of Morgantown")
    assert(Text.normalizeAgencyName("wv state police", g) == "WV State Police")
    assert(Text.normalizeAgencyName("WVSP", g) == "West Virginia State Police")
    assert(Text.normalizeAgencyName("McDowell County Sheriff's Office", g) ==
      "McDowell County Sheriff's Office") // Mc-token preserved
    assert(Text.normalizeAgencyName("dept of education", g) == "Dept of Education")
    // JS `\s+` collapse and `trim()` take U+00A0 and U+2028 too
    assert(Text.normalizeAgencyName("\u00A0dept\u00A0of\u2028education\u2028", g) ==
      "Dept of Education")
  }

  test("agencyIdentity produces (titlified name, slug) (shared.ts:14-19)") {
    val (name, slug) = Text.agencyIdentity("DEP", Fixture.aliasGroups)
    assert(name == "Department of Environmental Protection")
    assert(slug == "department-of-environmental-protection")
  }

  test("same canonical identity across alias spellings collapses slugs") {
    val slugs = Seq("DEP", "WV Dep", "Department of Environmental Protection")
      .map(a => Text.agencyIdentity(a, Fixture.aliasGroups)._2).distinct
    assert(slugs == Seq("department-of-environmental-protection"))
  }

  test("stripDiacritics folds accents, keeps base letters") {
    assert(Text.stripDiacritics("Café Straße naïve") == "Cafe Straße naive")
    // ß is not a combining mark — unicode61 also keeps it; documented.
  }

  test("buildPageNumbers goldens (utils.ts:160-172)") {
    assert(Text.buildPageNumbers(1, 1) == Seq("1"))
    assert(Text.buildPageNumbers(1, 5) == Seq("1", "2", "3", "4", "5"))
    assert(Text.buildPageNumbers(4, 10) == Seq("1", "2", "3", "4", "5", "6", "...", "10"))
    assert(Text.buildPageNumbers(50, 100) ==
      Seq("1", "...", "48", "49", "50", "51", "52", "...", "100"))
    assert(Text.buildPageNumbers(10, 10) == Seq("1", "...", "5", "6", "7", "8", "9", "10"))
  }

  test("buildPageNumbers invariants") {
    sweep(500) { rnd =>
      val total = 1 + rnd.nextInt(500)
      val page = 1 + rnd.nextInt(total)
      val pages = Text.buildPageNumbers(page, total)
      assert(pages.head == "1")
      assert(pages.last == total.toString)
      val nums = pages.filter(_ != "...").map(_.toInt)
      assert(nums == nums.sorted && nums.distinct == nums)
      assert(nums.contains(page) || total == 1)
    }
  }
}
