package mirrorbench

import java.time.LocalDate
import java.util.SplittableRandom
import graft.entries.{Entry, Fixture, Sync}

/** Seeded generator of everything the benchmark feeds the program: the
  * initial corpus, the upstream detail pages a sync cycle publishes, and
  * the request schedules. Every row is a pure function of (seed, id), so
  * the upstream can render any page on demand inside an executor and the
  * oracle can rebuild the same rows without sharing state with Spark.
  *
  * The corpus follows the reference's shape: Zipf-distributed agencies
  * written under their alias, typo, casing and doubled-apostrophe
  * spellings; the date-corrections overlay ids (ids start at 1); null
  * request and completion dates, completions before their request and
  * after the as-of day; empty and unlisted resolutions; accented text; and
  * Zipf-distributed vocabulary so searches run from rare to common terms.
  */
final class Gen(val seed: Long) extends Serializable {
  import Gen._

  private def rng(salt: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ salt) + id))

  /** Agencies in Zipf rank order for this seed: each entry is the list of
    * spellings one real agency is written under. */
  val agencies: IndexedSeq[IndexedSeq[String]] =
    shuffle(AgencySpellings, new SplittableRandom(mix(seed ^ 0x1a6e)))

  /** Vocabulary in Zipf rank order for this seed. */
  val vocab: IndexedSeq[String] = shuffle(Vocabulary, new SplittableRandom(mix(seed ^ 0x70c4)))

  private val agencyCdf = zipfCdf(agencies.size, 1.1)
  private val vocabCdf = zipfCdf(vocab.size, 1.0)

  private def pick[T](xs: IndexedSeq[T], cdf: Array[Double], r: SplittableRandom): T = {
    val u = r.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    xs(math.min(i, xs.size - 1))
  }
  private def oneOf[T](xs: IndexedSeq[T], r: SplittableRandom): T = xs(r.nextInt(xs.size))
  private def words(r: SplittableRandom, lo: Int, hi: Int): String =
    Seq.fill(lo + r.nextInt(hi - lo + 1))(pick(vocab, vocabCdf, r)).mkString(" ")

  /** The corpus row with this id, as stored. */
  def entry(id: Long): Entry = {
    val r = rng(0xc0de, id)
    val agencyRanked = pick(agencies, agencyCdf, r)
    // Two thirds of rows use the first (canonical) spelling.
    val agency = if (r.nextInt(3) > 0) agencyRanked.head else oneOf(agencyRanked, r)
    val person = r.nextInt(10) < 6
    val org = if (person) None else Some(oneOf(Organizations, r))
    val first = if (person) Some(oneOf(FirstNames, r)) else None
    val middle = if (person && r.nextInt(5) == 0) Some(oneOf(Middles, r)) else None
    val last = if (person) Some(oneOf(LastNames, r)) else None
    // Request days skew recent: the square pulls draws toward the as-of day.
    val back = { val u = r.nextDouble(); (u * u * DaySpan).toLong }
    val reqDay = AsOfDay.minusDays(back)
    val reqRoll = r.nextInt(100)
    val request = if (reqRoll < 3) None else Some(reqDay.toString)
    val compRoll = r.nextInt(100)
    val completion =
      if (compRoll < 15) None
      else if (compRoll < 17) Some(reqDay.minusDays(1 + r.nextInt(20)).toString) // before request
      else Some(reqDay.plusDays(geometric(r, 25)).toString) // may pass the as-of day
    val entryDate = completion.orElse(request).map(d => LocalDate.parse(d).plusDays(1).toString)
    val fee = r.nextInt(10) match {
      case 0 | 1 | 2 | 3 | 4 => None
      case 5 | 6 => Some(oneOf(Fees, r))
      case 7 => Some((1 + r.nextInt(900)).toString)
      case 8 => Some(s"$$${1 + r.nextInt(400)}.${"%02d".format(r.nextInt(100))}")
      case _ => Some(s"${1 + r.nextInt(90)} (waived)")
    }
    val amended = if (r.nextInt(30) == 0) 1 else 0
    val subject = Some(words(r, 2, 6))
    val details = if (r.nextInt(10) < 4) None else Some(words(r, 3, 14))
    val resolution = {
      val u = r.nextInt(100)
      if (u < 35) Some("Granted")
      else if (u < 50) Some("Granted in part")
      else if (u < 60) Some("Exempted")
      else if (u < 70) Some("Rejected")
      else if (u < 78) Some("No Responsive Documents")
      else if (u < 82) Some("Withdrawn")
      else if (u < 90) Some("")
      else None
    }
    val response = if (r.nextInt(2) == 0) None else Some(words(r, 1, 8))
    Entry(id, agency, org, first, middle, last, request, completion, entryDate, fee,
      amended, subject, details, resolution, response)
  }

  def corpus(n: Int): IndexedSeq[Entry] = (1L to n.toLong).map(entry)

  /** A search request's text. Shapes 0 to 2 are one word from a Zipf band
    * of the vocabulary (common, middle, rare); shape 3 is 2 to 3 words of
    * one row, so the prefix AND can hit. Words are sometimes cut to a
    * prefix or typed capitalized; accents stay, for the query tokenizer
    * to strip. */
  def searchText(r: SplittableRandom, corpusSize: Int, shape: Int): String = {
    val ws = shape match {
      case 3 =>
        val pool = entry(1 + r.nextInt(corpusSize).toLong).subject.get.split(' ').toIndexedSeq
        Seq.fill(2 + r.nextInt(2))(oneOf(pool, r))
      case band =>
        val (lo, hi) = IndexedSeq((0, 60), (60, 600), (600, vocab.size))(band)
        Seq(vocab(lo + r.nextInt(hi - lo)))
    }
    ws.map { w =>
      val cut = if (w.length > 4 && r.nextBoolean()) w.take(3 + r.nextInt(w.length - 3)) else w
      if (r.nextInt(8) == 0) cut.capitalize else cut
    }.mkString(" ")
  }

  // --- upstream pages for sync cycles ---------------------------------------

  /** The pages one sync cycle publishes: `pages` ids after `after`, with
    * interior gaps (never more than two missing in a row, so the drift
    * tolerance absorbs them) and a few unparseable pages. */
  def upstream(cycle: Int, after: Long, pages: Int): Upstream = {
    val r = rng(0x5bc, cycle.toLong)
    val missing = scala.collection.mutable.Set.empty[Long]
    val broken = scala.collection.mutable.Set.empty[Long]
    var id = after + 1
    val last = after + pages
    while (id < last) {
      val u = r.nextInt(200)
      if (u < 2) { missing += id; if (u == 0 && id + 1 < last) missing += id + 1; id += 3 }
      else if (u < 4) { broken += id; id += 2 }
      else id += 1
    }
    Upstream(seed, cycle, after, last, missing.toSet, broken.toSet)
  }

  /** The entry a published page carries: a fresh row whose subject holds
    * the cycle's batch token, with dates written the ways the upstream
    * writes them. Text is already in the form the parser yields. */
  def publishedEntry(cycle: Int, id: Long): Entry = {
    val e = entry(id)
    def clean(s: Option[String]) = s.map(_.replaceAll("\\s+", " ").trim).filter(_.nonEmpty)
    e.copy(
      agency = e.agency.replaceAll("\\s+", " ").trim,
      subject = Some(s"${batchToken(cycle)} ${e.subject.get}"),
      resolution = clean(e.resolution))
  }

  /** A token that only the rows of one sync cycle carry. */
  def batchToken(cycle: Int): String =
    "zq" + java.lang.Long.toString(math.abs(mix(seed ^ (cycle.toLong + 7))) % 1000000L, 36) + "c" + cycle
}

/** The in-process upstream of one sync cycle. Serializable and pure, so
  * executors render pages on demand; `calls` counts fetches in this JVM
  * (local mode runs executors in the driver's JVM). */
final case class Upstream(seed: Long, cycle: Int, after: Long, last: Long,
                          missing: Set[Long], broken: Set[Long])
    extends (Long => Option[String]) {

  def published: Seq[Long] = ((after + 1) to last).filterNot(i => missing(i) || broken(i))

  def apply(id: Long): Option[String] = {
    Upstream.calls.incrementAndGet()
    if (id <= after || id > last || missing(id)) None
    else if (broken(id)) Some(Sync.NotFoundHtml)
    else Some(Upstream.render(Upstream.gen(seed).publishedEntry(cycle, id), id))
  }
}

object Upstream {
  val calls = new java.util.concurrent.atomic.AtomicLong()

  private val gens = new java.util.concurrent.ConcurrentHashMap[Long, Gen]
  /** One generator per seed and JVM, so rendering a page costs no set-up. */
  private def gen(seed: Long): Gen = gens.computeIfAbsent(seed, new Gen(_))

  private def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** A detail page in the upstream's markup. Dates alternate between ISO
    * and M/D/YYYY, and open requests show a non-date completion value the
    * parser drops, as the upstream site does. */
  def render(e: Entry, id: Long): String = {
    def mdy(d: String) = { val x = LocalDate.parse(d); s"${x.getMonthValue}/${x.getDayOfMonth}/${x.getYear}" }
    def date(d: String) = if (id % 2 == 0) mdy(d) else d
    val fields = Seq(
      e.organization.map("Organization:" -> _),
      e.first_name.map("First Name:" -> _),
      e.middle_name.map("Middle Name:" -> _),
      e.last_name.map("Last Name:" -> _),
      Some("Request Date:" -> e.request_date.map(date).getOrElse("")),
      Some("Completion Date:" -> e.completion_date.map(date).getOrElse("not yet")),
      e.entry_date.map(d => "Entry Date:" -> date(d)),
      e.fee.map("Fee:" -> _),
      if (e.is_amended == 1) Some("Amended:" -> "Amended") else None,
      e.resolution.map("Resolution:" -> _)).flatten
    val panels = Seq(
      e.subject.map("Subject" -> _), e.details.map("Details" -> _),
      e.response.map("Response" -> _)).flatten
    Sync.fixtureHtml(esc(e.agency), fields.map { case (k, v) => k -> esc(v) },
      panels.map { case (k, v) => k -> esc(v) })
  }
}

object Gen {
  val AsOf: String = Fixture.AsOf
  val AsOfDay: LocalDate = LocalDate.parse(AsOf)
  private val DaySpan = 7 * 365

  def mix(x: Long): Long = { // splitmix64 finalizer
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def geometric(r: SplittableRandom, mean: Int): Long =
    (-math.log(1 - r.nextDouble()) * mean).toLong

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  private def shuffle[T](xs: IndexedSeq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  private val Counties = IndexedSeq("Kanawha", "Monongalia", "Cabell", "Berkeley", "Wood",
    "Raleigh", "Harrison", "Marion", "Putnam", "Jefferson", "Mercer", "Fayette", "Wayne",
    "Logan", "Ohio", "Greenbrier", "Preston", "Hampshire", "Mingo", "Braxton")

  /** Spelling families: the canonical spelling first. The first three are
    * Fixture.aliasGroups (alias spellings resolve to one slug); the next
    * carry the typo, casing, whitespace and doubled-apostrophe variants. */
  val AgencySpellings: IndexedSeq[IndexedSeq[String]] = {
    val aliased = Fixture.aliasGroups.map { case (canon, aliases) =>
      (canon +: aliases :+ canon.toLowerCase).toIndexedSeq
    }
    val variants = IndexedSeq(
      IndexedSeq("Department of Health", "Departmint of Health", "Department of  Health"),
      IndexedSeq("City of Morgantown", "Tcity of Morgantown", "City  of   Morgantown"),
      IndexedSeq("McDowell County Sheriff's Office", "MCDOWELL COUNTY SHERIFF''S OFFICE",
        "McDowell County Sheriff''s Office"),
      IndexedSeq("Department of Education", "dept of education", "Departmnt of Education"),
      IndexedSeq("Secretary of State", "SECRETARY OF STATE"),
      IndexedSeq("Division of Highways", "division of highways"),
      IndexedSeq("WV State Police", "wv state police"),
      IndexedSeq("Department of Revenue"), IndexedSeq("Division of Corrections"),
      IndexedSeq("Public Service Commission"), IndexedSeq("Attorney General's Office"),
      IndexedSeq("Department of Commerce"), IndexedSeq("Bureau for Public Health"))
    val counties = Counties.flatMap(c => IndexedSeq(
      IndexedSeq(s"$c County Commission", s"${c.toLowerCase} county commission"),
      IndexedSeq(s"$c County Sheriff's Office", s"$c County Sheriff''s Office"),
      IndexedSeq(s"$c County Board of Education")))
    aliased.toIndexedSeq ++ variants ++ counties
  }

  val Organizations = IndexedSeq("ACLU-WV", "Local News LLC", "Charleston Gazette-Mail",
    "Mountain State Spotlight", "Transparency Project", "Court Watch", "Civic League",
    "River Keepers", "Health Watch", "Parents United", "Press Corps", "Road Safety Org",
    "Election Integrity Now", "Société Historique", "Café Press Collective")
  val FirstNames = IndexedSeq("Jane", "Sam", "Ana", "Bob", "Cara", "Dan", "Eve", "Finn", "Gus",
    "Hana", "Ian", "Joy", "Kai", "Lia", "José", "Zoë", "Renée", "Łukasz", "Chloé", "Mateo")
  val Middles = IndexedSeq("M", "J", "Lee", "Ann")
  val LastNames = IndexedSeq("Doe", "Smith", "García", "Lee", "O'Neil", "Reyes", "Hall", "Berg",
    "Diaz", "Kim", "Poe", "Wu", "Ford", "Chen", "McCoy", "Müller", "Núñez", "Hatfield")
  val Fees = IndexedSeq("0", "$0.00", "$25.00", "$1,250.00", "15", "fee pending", "$5",
    "250", "$42.50", "100", "N/A")

  private val BaseWords = IndexedSeq("records", "email", "emails", "contract", "contracts",
    "police", "budget", "permit", "permits", "water", "quality", "inspection", "inspections",
    "report", "reports", "minutes", "meeting", "board", "school", "closure", "plans",
    "traffic", "stop", "data", "body", "camera", "footage", "training", "manuals", "jail",
    "logs", "incident", "zoning", "bridge", "pothole", "complaints", "voter", "roll",
    "business", "filings", "travel", "expenses", "curriculum", "review", "mining",
    "violation", "notices", "air", "monitoring", "discharge", "salary", "payroll",
    "overtime", "grant", "grants", "audit", "invoices", "vendor", "payments", "policy",
    "memo", "correspondence", "calendar", "schedule", "litigation", "settlement",
    "complaint", "investigation", "arrest", "warrant", "dispatch", "recordings", "ems",
    "fire", "opioid", "settlement", "broadband", "highway", "paving", "flood", "relief",
    "window", "windows", "spark", "kanawha", "river", "coal", "gas", "pipeline", "lease",
    "election", "ballot", "census", "tax", "levy", "assessment", "property", "deed",
    "café", "résumé", "naïve", "façade", "Zürich", "São", "Straße", "Bogotá", "déjà",
    "piñata", "crème", "jalapeño", "Ångström", "coöperate", "élan")
  private val Syllables = IndexedSeq("ka", "no", "ri", "ve", "tal", "mor", "gan", "ton",
    "bel", "ser", "qui", "dra", "po", "lin", "ex", "ur", "sa", "mi", "ko", "ze", "vi", "lo")

  /** ~3,000 distinct words: real FOIA vocabulary, accented words, and
    * synthetic syllable words for the long Zipf tail. */
  val Vocabulary: IndexedSeq[String] = {
    val r = new SplittableRandom(0x5eed)
    val synth = Iterator.continually {
      (1 to 2 + r.nextInt(3)).map(_ => Syllables(r.nextInt(Syllables.size))).mkString
    }
    (BaseWords.iterator ++ synth).distinct.take(3000).toIndexedSeq
  }
}
