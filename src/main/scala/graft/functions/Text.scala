package graft.functions

import java.util.regex.{Matcher, Pattern}

/** Pure-Scala ports of the reference's scalar string functions.
  *
  * Semantics follow /root/reference/src/lib/utils.ts and
  * /root/reference/src/lib/corrections.ts exactly (JS regex behavior
  * re-expressed with java.util.regex; \w and \b are ASCII in both).
  * These back the agency identity UDFs in `Normalize`, the sync parser
  * and the native strip_diacritics expression; everything else in the
  * engine is pure Column expressions so Catalyst codegen and pushdown
  * stay intact.
  */
object Text {

  /** The members of JS `\s` (WhiteSpace + LineTerminator), as the body
    * of a java.util.regex character class. Java's `\s` and `String.trim`
    * miss U+00A0 and the other Unicode spaces. */
  private val JsSpace =
    "\\t\\n\\u000B\\f\\r \\u00A0\\u1680\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000\\uFEFF"

  /** A run of JS `\s`: what the reference's `/\s+/` splits and collapses
    * on. */
  val JsSpaceRun: Pattern = Pattern.compile(s"[$JsSpace]+")

  /** `value.replace(/\s+/g, " ").trim()` with JS's whitespace class: after
    * the collapse each end holds at most one space. */
  def collapseJsSpace(value: String): String =
    JsSpaceRun.matcher(value).replaceAll(" ").stripPrefix(" ").stripSuffix(" ")

  private val SlugSeparator = Pattern.compile(s"[$JsSpace+|/]")

  /** slugify — reference src/lib/utils.ts:42-49.
    * lowercase; [\s+|/] -> '-'; strip [^a-z0-9-]; collapse '-'; trim '-'. */
  def slugify(input: String): String =
    SlugSeparator.matcher(input.toLowerCase).replaceAll("-")
      .replaceAll("[^a-z0-9-]", "")
      .replaceAll("-+", "-")
      .replaceAll("^-|-$", "")

  private val WordStart = Pattern.compile("\\b\\w")
  private val StopWords =
    Pattern.compile("\\b(?:'s|and|of|the|at|dba|for)\\b", Pattern.CASE_INSENSITIVE)

  /** titlify — reference src/lib/utils.ts:51-59.
    * Single token (no space/hyphen) => UPPER unless disableCapAcro.
    * Else: hyphens->spaces, collapse apostrophes, capitalize word starts
    * (not after an apostrophe), lowercase stop-words unless at offset 0.
    */
  def titlify(input: String, disableCapAcro: Boolean = false): String = {
    if (!disableCapAcro && !input.contains(" ") && !input.contains("-"))
      return input.toUpperCase
    var s = input.replace('-', ' ').replaceAll("'+", "'")
    val sb = new java.lang.StringBuilder(s)
    val m = WordStart.matcher(s)
    while (m.find()) {
      val i = m.start
      if (!(i > 0 && s.charAt(i - 1) == '\''))
        sb.setCharAt(i, Character.toUpperCase(s.charAt(i)))
    }
    s = sb.toString
    val m2 = StopWords.matcher(s)
    val out = new java.lang.StringBuffer
    while (m2.find()) {
      val rep = if (m2.start == 0) m2.group else m2.group.toLowerCase
      m2.appendReplacement(out, Matcher.quoteReplacement(rep))
    }
    m2.appendTail(out)
    out.toString.replaceAll("-+", "-").replaceAll("'+", "'")
  }

  /** normalizeToken — reference src/lib/corrections.ts:26-28.
    * titlify then lowercase then strip non-alphanumerics; capitalization
    * washes out, so this equals stripping non-alnum of the lowercase. */
  def normalizeToken(value: String): String =
    titlify(value).toLowerCase.replaceAll("[^a-z0-9]", "")

  /** canonicalAgencyMatch — reference src/lib/corrections.ts:30-42.
    * aliasGroups: canonical name -> alias spellings (corrections.json). */
  def canonicalAgencyMatch(
      agency: String,
      aliasGroups: Seq[(String, Seq[String])]): Option[String] = {
    val target = titlify(agency).toLowerCase
    val normalizedTarget = normalizeToken(agency)
    if (target.isEmpty && normalizedTarget.isEmpty) return None
    aliasGroups.collectFirst {
      case (canonical, aliases)
          if titlify(canonical).toLowerCase == target ||
            normalizeToken(canonical) == normalizedTarget ||
            aliases.exists(a =>
              titlify(a).toLowerCase == target || normalizeToken(a) == normalizedTarget) =>
        canonical
    }
  }

  private val McToken = Pattern.compile("\\bMc[A-Z][A-Za-z]*\\b")
  private val McLower = Pattern.compile("\\bMc[a-z]+\\b")
  private val WvToken = Pattern.compile("\\bWv\\b")

  /** normalizeAgencyName — reference src/lib/corrections.ts:44-57.
    * Typo fixes (Departm[ei]n?t -> Department, Tcity -> City), canonical
    * alias match, whitespace collapse, titlify with Mc-token and WV
    * preservation. */
  def normalizeAgencyName(
      agencyRaw: String,
      aliasGroups: Seq[(String, Seq[String])]): String = {
    val agency = agencyRaw
      .replaceAll("(?i)Departm[ei]n?t", "Department")
      .replaceAll("(?i)Tcity", "City")
    canonicalAgencyMatch(agency, aliasGroups) match {
      case Some(canonical) => canonical
      case None =>
        val spaced = collapseJsSpace(agency)
        val preserved = scala.collection.mutable.Map.empty[String, String]
        val mc = McToken.matcher(spaced)
        while (mc.find()) preserved(mc.group.toLowerCase) = mc.group
        var s = titlify(spaced.toLowerCase, disableCapAcro = true)
        val ml = McLower.matcher(s)
        val sb = new java.lang.StringBuffer
        while (ml.find()) {
          val rep = preserved.getOrElse(ml.group.toLowerCase, ml.group)
          ml.appendReplacement(sb, Matcher.quoteReplacement(rep))
        }
        ml.appendTail(sb)
        s = sb.toString
        WvToken.matcher(s).replaceAll("WV")
    }
  }

  /** agencyNameCandidates — reference src/lib/corrections.ts:59-64. */
  def agencyNameCandidates(
      agency: String,
      aliasGroups: Seq[(String, Seq[String])]): Seq[String] =
    canonicalAgencyMatch(agency, aliasGroups) match {
      case Some(canonical) =>
        canonical +: aliasGroups.collectFirst { case (c, as) if c == canonical => as }
          .getOrElse(Seq.empty)
      case None => Seq(agency)
    }

  /** agencyIdentity — reference src/lib/db/shared.ts:14-19. */
  def agencyIdentity(
      rawAgency: String,
      aliasGroups: Seq[(String, Seq[String])]): (String, String) = {
    val canonical = normalizeAgencyName(rawAgency, aliasGroups)
    val name = titlify(canonical)
    (name, slugify(name))
  }

  /** Unicode diacritic fold (NFD + strip combining marks) — the engine's
    * stand-in for FTS5's `unicode61 remove_diacritics 1` tokenizer
    * (reference migrations/0002_fts.sql:12). */
  def stripDiacritics(s: String): String =
    java.text.Normalizer
      .normalize(s, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}+", "")

  /** buildPageNumbers — reference src/lib/utils.ts:160-172. */
  def buildPageNumbers(currentPage: Int, totalPages: Int, maxPages: Int = 7): Seq[String] = {
    if (totalPages <= 1) return Seq("1")
    val slots = maxPages - 2
    var start = math.max(2, currentPage - slots / 2)
    val end = math.min(totalPages - 1, start + slots - 1)
    start = math.max(2, end - slots + 1)
    val mid = (start to end).map(_.toString)
    Seq("1") ++
      (if (start > 2) Seq("...") else Nil) ++ mid ++
      (if (end < totalPages - 1) Seq("...") else Nil) ++
      Seq(totalPages.toString)
  }
}
