package mirrorbench

import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import graft.entries.{Engine, Fixture, Sync, Warehouse}

/** The benchmark's own tests: the generator is a function of its seed,
  * upstream pages parse back to the rows the model expects, the corpus
  * exercises the semantics the oracle models, and the oracle catches
  * tampered responses.
  *
  *   python3 mirrorbench/run.py --selftest
  */
object SelfTest {
  private var checks = 0
  private def check(what: String)(ok: => Boolean): Unit = {
    if (!ok) throw new AssertionError(s"selftest failed: $what")
    checks += 1
  }

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    generator()
    upstream()
    oracle(m("dir"), m("cores").toInt)
    println(s"selftest: $checks checks passed")
  }

  private def schedule(seed: Long): IndexedSeq[Req] = {
    val g = new Gen(seed)
    Schedule.browse(g, new Model(g.corpus(3000)), 4, new SplittableRandom(seed))
  }

  def generator(): Unit = {
    check("one seed gives one corpus")(new Gen(7).corpus(3000) == new Gen(7).corpus(3000))
    check("one seed gives one schedule")(schedule(7) == schedule(7))
    check("two seeds give two corpora")(new Gen(7).corpus(3000) != new Gen(8).corpus(3000))
    check("two seeds give two schedules")(schedule(7) != schedule(8))
    check("one seed gives one upstream")(new Gen(7).upstream(1, 3000, 500) == new Gen(7).upstream(1, 3000, 500))

    val rows = new Gen(7).corpus(10000)
    val agencies = rows.map(_.agency).toSet
    val aliases = Fixture.aliasGroups.flatMap(_._2).toSet
    check("alias spellings")(agencies.exists(aliases))
    check("doubled apostrophes")(agencies.exists(_.contains("''")))
    check("typo spellings")(agencies.exists(a => a.contains("Departmint") || a.startsWith("Tcity")))
    check("casing variants")(agencies.exists(a => a == a.toUpperCase && a.exists(_.isLetter)))
    check("corrections overlay ids")(Fixture.dateCorrections.map(_._1).forall(id => rows.exists(_.id == id)))
    check("null request dates")(rows.exists(_.request_date.isEmpty))
    check("null completion dates")(rows.exists(_.completion_date.isEmpty))
    check("completions before request")(rows.exists(e =>
      e.request_date.isDefined && e.completion_date.exists(_ < e.request_date.get)))
    check("completions after the as-of day")(rows.exists(_.completion_date.exists(_ > Gen.AsOf)))
    check("empty resolutions")(rows.exists(_.resolution.contains("")))
    check("unlisted resolutions")(rows.exists(_.resolution.exists(r => Model.bucket(Some(r)) == "other" && r.nonEmpty)))
    check("accented text")(rows.exists(e => (e.subject ++ e.last_name).exists(s =>
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD).exists(c =>
        Character.getType(c) == Character.NON_SPACING_MARK))))
    val top = rows.groupBy(_.agency).values.map(_.size).max
    check("Zipf agencies: the top spelling holds over a tenth of rows")(top > rows.size / 10)
  }

  def upstream(): Unit = {
    val g = new Gen(11)
    val up = g.upstream(3, 5000, 2000)
    check("gaps and broken pages")(up.missing.nonEmpty && up.broken.nonEmpty)
    check("never three misses in a row")(((up.after + 1) to up.last).sliding(3).forall(w =>
      !w.forall(i => up.missing(i) || up.broken(i))))
    check("pages parse to the published rows")(up.published.forall(id =>
      up(id).flatMap(Sync.parseEntry(_, id)).contains(g.publishedEntry(3, id))))
    check("broken and missing pages parse to nothing")(
      (up.missing ++ up.broken).forall(id => up(id).flatMap(Sync.parseEntry(_, id)).isEmpty))
    check("the serial sync loop keeps exactly the published rows")(
      Sync.runSync(up, up.after)._2.map(_.id) == up.published)
  }

  def oracle(dir: String, cores: Int): Unit = {
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val g = new Gen(5)
      val model = new Model(g.corpus(3000))
      val p = Paths(s"$dir/mirror")
      spark.createDataset(model.rows).write.parquet(p.store)
      Engine.writeFtsIndex(spark, spark.read.parquet(p.store), p.index)
      Warehouse.writeCorrected(spark, spark.read.parquet(p.store), p.warehouse)
      val client = new Client(spark, p, () => "b")
      val a = Schedule.siteAgencies(g).head
      val reqs = Schedule.warmup(g, model, new SplittableRandom(1)).flatten ++
        Schedule.browse(g, model, 2, new SplittableRandom(2)) ++
        Seq(Req.AgencyDetail(a), Req.Probe(model.rows.flatMap(_.subject).flatMap(_.split(' '))
          .find(_.matches("[a-z0-9]+")).get))
      val answers = reqs.map(q => q -> client.run(q))
      answers.foreach { case (q, r) =>
        check(s"true response passes: $q")(Oracle.check(q, r, model).isEmpty)
      }
      def tampered(r: Response): Response = r match {
        case x: Response.ListPage => x.copy(ids = x.ids.map(_ + 1), total = x.total + (if (x.ids.isEmpty) 1 else 0))
        case x: Response.Ids => Response.Ids(if (x.ids.isEmpty) Seq(1L) else x.ids.tail)
        case x: Response.Agencies => Response.Agencies(x.rows.map { case (s, n) => s -> (n + 1) })
        case x: Response.Timeline => x.copy(days = x.days + 1)
        case x: Response.Detail => x.copy(requests = x.requests + 1)
        case x: Response.Home => x.copy(avgDays = x.avgDays + 0.5)
        case x: Response.Months => Response.Months(x.counts + ("1999-01" -> 1L))
        case x: Response.Count => Response.Count(x.n + 1)
      }
      answers.foreach { case (q, r) =>
        check(s"tampered response is caught: $q")(Oracle.check(q, tampered(r), model).isDefined)
      }
      check("every response kind was tampered")(
        answers.map(_._2.getClass).toSet.size == 8)
    } finally spark.stop()
  }
}
