package mirrorbench

import java.io.File
import Disk.{bytes, dataFiles}
import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, from the spans taken around calls
  * into each program module and the Spark listener counts. Set-up, sync
  * cycles and timed reads count; warm-up does not. A per-call time is the
  * median span of that call, 0 when the workload never makes it. */
final class Layers(spark: SparkSession, collector: SparkCollector, kinds: Map[Long, String],
                   paths: Paths, liveRows: Double) {
  org.apache.spark.sql.mirrorbench.Bridge.drain(spark.sparkContext)
  collector.settle()

  private def kind(req: Long) = kinds.getOrElse(req, "none")
  private def timed(req: Long) = { val k = kind(req); k == "setup" || k == "cycle" || k.startsWith("read:") }
  private def isRead(req: Long) = kind(req).startsWith("read:")
  private val spans = Trace.allSpans.filter(s => timed(s.req))
  private def callMs(name: String) =
    Stats.median(spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6))
  private def spanSeconds(name: String) = spans.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum
  private def count(name: String) = Trace.counter(name, timed).toDouble
  private def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

  private val reads = kinds.keys.filter(isRead).toSeq
  private def perRead(f: SparkCollector#Acc => Long) = ratio(reads.map(r => f(collector.acc(r)).toDouble).sum, reads.size)
  private val readWallMs = spans.filter(s => s.parent == 0 && isRead(s.req))
    .map(s => s.req -> (s.end - s.start) / 1e6).toMap
  private val engineReads = reads.filter(r => kind(r) == "read:page" || kind(r) == "read:search")

  val metrics: Seq[(String, Double, String)] = Seq(
    ("engine.list_ms", callMs("engine.list"), "ms"),
    ("engine.cursor_ms", callMs("engine.cursor"), "ms"),
    ("engine.search_ms", callMs("engine.search"), "ms"),
    ("engine.rows_read_per_row_returned", ratio(
      engineReads.map(r => collector.acc(r).rowsRead.sum.toDouble).sum,
      Trace.counter("engine.rows_returned", r => engineReads.contains(r)).toDouble), "ratio"),
    ("agency.stats_ms", callMs("agency.stats"), "ms"),
    ("agency.timeline_ms", callMs("agency.timeline"), "ms"),
    ("agency.listing_ms", callMs("agency.listing"), "ms"),
    ("agency.home_ms", callMs("agency.home"), "ms"),
    ("rss.feed_ms", callMs("rss.feed"), "ms"),
    ("cache.hit_ratio", ratio(count("cache.hits"), count("cache.lookups")), "ratio"),
    ("cache.lookups", count("cache.lookups"), "count"),
    ("cache.hit_ms", callMs("cache.hit"), "ms"),
    ("cache.miss_ms", callMs("cache.miss"), "ms"),
    ("fts.build_ms", callMs("fts.build"), "ms"),
    ("fts.index_bytes_per_row", bytes(new File(paths.index)) / liveRows, "bytes/row"),
    ("warehouse.write_ms", callMs("warehouse.write"), "ms"),
    ("warehouse.month_ms", callMs("warehouse.month"), "ms"),
    ("warehouse.range_ms", callMs("warehouse.range"), "ms"),
    ("warehouse.files", dataFiles(new File(paths.warehouse)).toDouble, "count"),
    ("warehouse.bytes_written_per_row", bytes(new File(paths.warehouse)) / liveRows, "bytes/row"),
    ("store.files", dataFiles(new File(paths.store)).toDouble, "count"),
    ("sync.fetch_parse_ms", callMs("sync.fetch_parse"), "ms"),
    ("sync.pages_per_s", ratio(count("sync.transport_calls"), spanSeconds("sync.fetch_parse")), "1/s"),
    ("sync.transport_calls_per_row", ratio(count("sync.transport_calls"), count("sync.rows_kept")), "ratio"),
    ("sync.latest_id_ms", callMs("sync.latest_id"), "ms"),
    ("spark.plan_ms_per_req", perRead(_.planMs.sum), "ms"),
    ("spark.jobs_per_req", perRead(_.jobs.sum), "count"),
    ("spark.tasks_per_req", perRead(_.tasks.sum), "count"),
    ("spark.executor_run_ms_per_req", perRead(_.runMs.sum), "ms"),
    ("spark.driver_ms_per_req", ratio(reads.map(r =>
      readWallMs.getOrElse(r, 0.0) - collector.jobBusyMs(r)).sum, reads.size), "ms"),
    ("spark.bytes_read_per_req", perRead(_.bytesRead.sum), "bytes"),
    ("spark.shuffle_bytes_per_req", perRead(_.shuffleBytes.sum), "bytes"),
    ("spark.gc_ms_per_req", perRead(_.gcMs.sum), "ms"),
    ("trace.spans", spans.size.toDouble, "count"))
}

object Disk {
  /** Bytes of every file under `dir`. */
  def bytes(dir: File): Long =
    Option(dir.listFiles()).map(_.map(f => if (f.isDirectory) bytes(f) else f.length).sum).getOrElse(0L)

  /** Parquet data files under `dir`. */
  def dataFiles(dir: File): Int =
    Option(dir.listFiles()).map(_.map(f =>
      if (f.isDirectory) dataFiles(f) else if (f.getName.endsWith(".parquet")) 1 else 0).sum).getOrElse(0)

  def rm(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); () }
}
