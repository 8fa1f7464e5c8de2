package mirrorbench

import java.io.File
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.entries.{Engine, Sync, Warehouse}

/** One benchmark run: builds a mirror from a seeded corpus, runs one
  * workload's fixed amount of work, checks every response against the
  * model, and prints one JSON result line.
  *
  *   --workload browse|sync --seed N --seconds S --trace 0|1
  *   --dir RUN_DIR --cores N --commit ID [--trace-out FILE]
  */
object Main {
  /** Corpus rows: a twelfth of the reference's 50k, so one run's three
    * set-ups, warm-up, two timed sync cycles and their index rebuilds fit
    * in about a minute. How the split between per-call overhead and
    * per-row work differs at 50k has not been measured. */
  val CorpusRows = 4000
  val SetupRepeats = 3
  val PagesPerCycle = 2000
  val BrowseCycles = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        dir: String, cores: Int, commit: String, traceOut: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Set("browse", "sync")(w), s"unknown workload $w")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1", need("dir"),
      need("cores").toInt, m.getOrElse("commit", "unknown"), m.get("trace-out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]").appName("mirrorbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${args.dir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.dir}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try new Run(spark, args).apply() finally spark.stop()
    System.exit(code)
  }
}

final class Run(spark: SparkSession, args: Main.Args) {
  import Main._

  private case class Result(req: Req, reqId: Long, ns: Long, out: Either[Throwable, Response], model: Model)
  private case class Sample(cls: String, ns: Long)
  private case class Cycle(added: Long, writeNs: Long, freshNs: Long, issue: Option[String])

  private val gen = new Gen(args.seed)
  @volatile private var model = new Model(gen.corpus(CorpusRows))
  private var paths = Paths(s"${args.dir}/mirror-1")
  private val bookmark = new AtomicReference("setup")
  private def client = new Client(spark, paths, () => bookmark.get)
  private val kinds = new ConcurrentHashMap[Long, String]
  private val nextReq = new AtomicLong
  private val collector = if (args.trace) Some(new SparkCollector) else None
  private val probes = new ConcurrentLinkedQueue[Result]
  private val cycles = scala.collection.mutable.ArrayBuffer.empty[Cycle]
  private def log(s: String): Unit = System.err.println(s"[mirrorbench] $s")
  private def since(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** Run `f` as a new request of kind `kind`: its Spark jobs carry the
    * request id, and its spans hang under one root span. */
  private def withReq[A](kind: String, name: String)(f: => A): (Long, A) = {
    val id = nextReq.incrementAndGet()
    kinds.put(id, kind)
    val sc = spark.sparkContext
    sc.setLocalProperty(SparkCollector.ReqKey, id.toString)
    try (id, Trace.asRequest(id)(Trace.span(name)(f)))
    finally sc.setLocalProperty(SparkCollector.ReqKey, null)
  }

  private def read(r: Req, kind: String = "read"): Result = {
    val m = model
    val t0 = System.nanoTime()
    var id = 0L
    val out = try { val (i, resp) = withReq(s"$kind:${r.cls}", s"req.${r.cls}")(client.run(r)); id = i; Right(resp) }
    catch { case NonFatal(e) => Left(e) }
    Result(r, id, System.nanoTime() - t0, out, m)
  }

  private def setup(): Unit = {
    import spark.implicits._
    Trace.span("store.write")(spark.createDataset(model.rows).write.mode("overwrite").parquet(paths.store))
    Trace.span("fts.build")(Engine.writeFtsIndex(spark, spark.read.parquet(paths.store), paths.index))
    Trace.span("warehouse.write")(
      Warehouse.writeCorrected(spark, spark.read.parquet(paths.store), paths.warehouse))
  }

  /** One nightly sync into mirror `p`: latest id, fetch and parse the new
    * pages, append, rebuild the FTS index and the warehouse. `want` is the
    * upstream the cycle should find. Returns what went wrong, if anything,
    * and the rows added. */
  private def sync(p: Paths, want: Upstream): (Option[String], Long) = {
    val c = want.cycle
    val latest = Trace.span("sync.latest_id")(Engine.latestEntryId(spark.read.parquet(p.store)))
    val up = gen.upstream(c, latest, (want.last - want.after).toInt)
    val calls0 = Upstream.calls.get
    val (res, batch) = Trace.span("sync.fetch_parse")(Sync.runSyncBatch(spark, up, latest))
    Trace.count("sync.transport_calls", Upstream.calls.get - calls0)
    Trace.count("sync.rows_kept", res.added)
    Trace.span("store.append")(batch.write.mode("append").parquet(p.store))
    Trace.span("fts.build")(Engine.writeFtsIndex(spark, spark.read.parquet(p.store), p.index))
    Trace.span("warehouse.write")(Warehouse.writeCorrected(spark, spark.read.parquet(p.store), p.warehouse))
    val issue =
      if (latest != want.after) Some(s"cycle $c: latest id $latest, want ${want.after}")
      else if (res.added != want.published.size || res.lastCheckedId != up.last + Sync.DriftTolerance)
        Some(s"cycle $c: $res, want ${want.published.size} rows up to ${up.last}")
      else None
    (issue, res.added)
  }

  /** A timed nightly sync of the serving mirror, which then moves the
    * cache bookmark; the freshness probe then searches for the batch's
    * token. */
  private def cycle(c: Int): Result = {
    val want = gen.upstream(c, model.maxId, PagesPerCycle)
    val next = new Model(model.rows ++ want.published.map(gen.publishedEntry(c, _)))
    val t0 = System.nanoTime()
    val (issue, added) = try withReq("cycle", "sync.cycle") {
      val out = sync(paths, want)
      bookmark.set(s"cycle-$c")
      out
    }._2 catch { case NonFatal(e) => (Some(s"cycle $c: $e"), 0L) }
    val wrote = System.nanoTime() - t0
    model = next
    val probe = read(Req.Probe(gen.batchToken(c)))
    probes.add(probe)
    cycles += Cycle(added, wrote, System.nanoTime() - t0, issue)
    probe
  }

  /** An untimed sync cycle into the scratch mirror `p`, with a quarter-size
    * batch no timed cycle publishes, then its freshness probe: codegen and
    * JIT of the sync path run here, not in the first timed cycle. */
  private def warmSync(p: Paths): Option[String] =
    try {
      val want = gen.upstream(0, model.maxId, PagesPerCycle / 4)
      val (_, issue) = withReq("warmup", "sync.cycle")(sync(p, want)._1)
      withReq("warmup:search", "req.search")(new Client(spark, p, () => "warmup").run(Req.Probe(gen.batchToken(0))))
      issue
    } catch { case NonFatal(e) => Some(s"warm-up cycle: $e") }

  /** Untimed requests, one thread per lane. */
  private def lanes(ls: Seq[Seq[Req]]): Seq[() => Unit] = ls.map(l => () => l.foreach(read(_, "warmup")))

  /** Run each task on its own thread and wait for all. */
  private def together(tasks: Seq[() => Unit]): Unit = {
    val threads = tasks.map(t => new Thread(() => t()))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Collect garbage, give Spark's cleaner a moment to drop what the
    * collection freed, collect again. */
  private def settleHeap(): Unit = { System.gc(); Thread.sleep(300); System.gc() }

  def apply(): Int = {
    val runStart = System.nanoTime()
    val jvmUpS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    Trace.enabled = args.trace
    collector.foreach(spark.sparkContext.addSparkListener)

    // Set-up, repeated in fresh directories; the last one serves the run,
    // the first takes the warm-up sync cycle.
    val setups = (1 to SetupRepeats).map { i =>
      paths = Paths(s"${args.dir}/mirror-$i")
      val t0 = System.nanoTime()
      withReq("setup", "setup")(setup())
      since(t0)
    }
    log(f"setups ${setups.map(s => f"$s%.2f").mkString(" ")} s (at ${since(runStart)}%.1f s)")

    // Warm-up, untimed: the sync cycle into a scratch mirror, beside every
    // read shape and the cache fill on the serving mirror. Codegen and JIT
    // run here, outside the timed window.
    var warmIssue: Option[String] = None
    together((() => warmIssue = warmSync(Paths(s"${args.dir}/mirror-1")))
      +: lanes(Schedule.warmup(gen, model, new SplittableRandom(Gen.mix(args.seed ^ 0x3a3a)))))
    (1 until SetupRepeats).foreach(i => Disk.rm(new File(s"${args.dir}/mirror-$i")))
    log(f"warm-up done (at ${since(runStart)}%.1f s)")

    val reads = new ConcurrentLinkedQueue[Result]
    var readWallNs = 0L
    val r = new SplittableRandom(Gen.mix(args.seed ^ 0x5c4ed))
    // The forced GC before a timed window lets Spark's cleaner drop what it
    // freed; the untimed primer runs while it does.
    def settle(): Unit = {
      settleHeap()
      Schedule.primer(gen, model, new SplittableRandom(Gen.mix(args.seed ^ 0x9e11))).foreach(read(_, "warmup"))
    }

    args.workload match {
      case "browse" =>
        val schedule = Schedule.browse(gen, model, math.max(1, args.seconds / 2), r)
        settle()
        val t0 = System.nanoTime()
        schedule.foreach(q => reads.add(read(q)))
        readWallNs = System.nanoTime() - t0
        // The nightly syncs come after the reads, so every timed agency
        // page is served from the cache the warm-up filled.
        (1 to BrowseCycles).foreach(c => cycle(c))
      case "sync" =>
        settle()
        (1 to math.max(2, args.seconds / 6)).foreach { c =>
          val probe = cycle(c)
          reads.add(probe)
          val t0 = System.nanoTime()
          Schedule.afterSync(gen, model, c, r).foreach(q => reads.add(read(q)))
          readWallNs += System.nanoTime() - t0 + probe.ns
        }
    }
    log(f"timed work done (at ${since(runStart)}%.1f s)")
    reads.asScala.foreach(r => log(f"sample ${r.req.cls}%-6s ${r.ns / 1e6}%8.1f ms ${r.req}"))

    // Checks, after the timed window.
    val (failures, attempted) = check(reads.asScala.toSeq, warmIssue.toSeq)
    failures.take(5).foreach(f => log(s"FAIL $f"))
    log(f"checks done (at ${since(runStart)}%.1f s)")

    // Keep only the timings, and drop the benchmark's own state (models,
    // responses) before the heap is read, so the figure is the program's.
    val samples = reads.asScala.toSeq.map(r => Sample(r.req.cls, r.ns))
    val liveRows = model.rows.size.toDouble
    reads.clear(); probes.clear(); model = null
    settleHeap()
    val heapMb = {
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      mem.getUsed / (1024.0 * 1024.0)
    }
    def ms(ns: Seq[Long]) = ns.map(_ / 1e6)
    val lat = ms(samples.map(_.ns))
    val tailP = Stats.tailPercentile(lat.size)

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("req_per_s", samples.size / (readWallNs / 1e9), "1/s"),
        ("tail_ms", Stats.percentile(lat, tailP), "ms"),
        ("page_p50_ms", Stats.median(ms(samples.filter(_.cls == "page").map(_.ns))), "ms"),
        ("search_p50_ms", Stats.median(ms(samples.filter(_.cls == "search").map(_.ns))), "ms"),
        ("agency_p50_ms", Stats.median(ms(samples.filter(_.cls == "agency").map(_.ns))), "ms"),
        ("report_p50_ms", Stats.median(ms(samples.filter(_.cls == "report").map(_.ns))), "ms"),
        ("ingest_rows_per_s", cycles.map(_.added).sum / (cycles.map(_.writeNs).sum / 1e9), "1/s"),
        ("freshness_s", Stats.median(cycles.map(_.freshNs / 1e9).toSeq), "s"),
        ("store_bytes_per_row", Disk.bytes(new File(paths.root)) / liveRows, "bytes/row"),
        ("heap_after_gc_mb", heapMb, "MB"))
      else new Layers(spark, collector.get, kinds.asScala.toMap, paths, liveRows).metrics

    val info = Json.obj(Seq(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "commit" -> Json.str(args.commit), "nproc" -> args.cores.toString,
      "conf" -> Json.obj(Seq("master" -> Json.str(spark.sparkContext.master),
        "spark.sql.shuffle.partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark.ui.enabled" -> Json.str(spark.conf.get("spark.ui.enabled")),
        "spark.sql.session.timeZone" -> Json.str(spark.conf.get("spark.sql.session.timeZone")),
        "jvm" -> Json.str(java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
          .asScala.filter(a => a.startsWith("-X")).mkString(" ")),
        "corpus_rows" -> CorpusRows.toString)),
      "reads" -> samples.size.toString, "read_wall_s" -> (readWallNs / 1e9).toString,
      "tail_percentile" -> tailP.toString,
      "setup_samples_s" -> Json.arr(setups.map(_.toString)),
      "cycles" -> cycles.size.toString,
      "class_samples" -> Json.obj(Seq("page", "search", "agency", "report")
        .map(c => c -> samples.count(_.cls == c).toString)),
      "jvm_up_at_start_s" -> jvmUpS.toString, "run_s" -> since(runStart).toString))
    println(Json.obj(Seq("info" -> info)))
    args.traceOut.filter(_ => args.trace).foreach(writeTrace)
    println(Json.obj(Seq(
      "correct" -> failures.isEmpty.toString,
      "attempted" -> attempted.toString,
      "failed" -> math.min(failures.size, attempted).toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    0
  }

  /** Every response against the model it should reflect, every cycle's
    * outcome, and the final store's ids. Returns the failures and the
    * number of operations attempted. */
  private def check(reads: Seq[Result], earlier: Seq[String]): (Seq[String], Int) = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String] ++ earlier
    val results = (reads ++ probes.asScala).distinct
    results.foreach { res =>
      res.out match {
        case Left(e) => failures += s"${res.req}: ${e.getClass.getSimpleName}: ${e.getMessage}"
        case Right(resp) => Oracle.check(res.req, resp, res.model).foreach(failures += _)
      }
    }
    cycles.flatMap(_.issue).foreach(failures += _)
    val stored = spark.read.parquet(paths.store).select("id").collect().map(_.getLong(0))
    val want = model.rows.map(_.id)
    if (stored.length != want.size || stored.toSet != want.toSet)
      failures += s"store holds ${stored.length} rows (${stored.distinct.length} ids), want ${want.size}"
    (failures.toSeq, results.size + cycles.size + earlier.size)
  }

  private def writeTrace(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try Trace.allSpans.sortBy(_.id).foreach { s =>
      out.println(Json.obj(Seq("name" -> Json.str(s.name), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "req" -> s.req.toString,
        "kind" -> Json.str(kinds.getOrDefault(s.req, "none")),
        "start_us" -> (s.start / 1000).toString, "end_us" -> (s.end / 1000).toString)))
    } finally out.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest whole percentile with at least ten samples above it. */
  def tailPercentile(n: Int): Int = math.max(0, math.floor(100.0 * (n - 10) / n).toInt)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Int): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
