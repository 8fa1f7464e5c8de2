package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.operators.ScaleOps

/** The partitioned entries store — the at-scale analog of the
  * reference's date B-tree indexes (migrations/0001_init.sql:19-23).
  *
  * The corrected view (corrections overlay applied ONCE, at write time)
  * is laid out partitioned by `request_year`, so every date-ranged
  * product read — P3 range filters, A8 timeline buckets — scans only
  * the matching year directories: `PartitionFilters` in the plan, with
  * the residual `corrected_request` range pushed to the parquet scan.
  * At 100 TB this is the difference between a full-corpus scan and
  * touching one year of files; the gate queries route through this
  * store so the pruning shape is oracle-checked, not just spec'd.
  */
object Warehouse {

  /** The corrected view plus the request_year partition key — the ONE
    * derivation every warehouse writer uses (batch here, streaming in
    * Streams.warehouseAppendStream). A second copy of the year parse
    * would let the two stores partition differently and mis-prune. */
  def correctedPartitioned(spark: SparkSession, entries: DataFrame): DataFrame =
    Normalize.withCorrectedDates(spark, entries)
      .withColumn("request_year",
        substring(col("corrected_request"), 1, 4).cast(IntegerType))

  /** Write the corrected entries view partitioned by request year.
    * Rows with no request date land in the null partition — they are
    * still present for non-date reads (nothing is dropped at write). */
  def writeCorrected(spark: SparkSession, entries: DataFrame, path: String): Unit =
    ScaleOps.writePartitioned(correctedPartitioned(spark, entries), path, "request_year")

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** P3 over the store: an ISO date range on the corrected column with
    * the year bounds lifted onto the partition key — year directories
    * outside [from.year, to.year] are never opened. */
  def requestedInRange(spark: SparkSession, path: String,
                       from: String, to: String): DataFrame =
    read(spark, path)
      .where(col("request_year") >= from.take(4).toInt &&
        col("request_year") <= to.take(4).toInt &&
        col("corrected_request") >= from && col("corrected_request") <= to)

  /** A8 over the store: per-month request counts for one year — the
    * partition filter reduces the scan to that year's directory before
    * the aggregate runs. */
  def monthlyRequestCounts(spark: SparkSession, path: String, year: Int): DataFrame =
    read(spark, path)
      .where(col("request_year") === year)
      .groupBy(substring(col("corrected_request"), 1, 7).as("month"))
      .agg(count(lit(1)).as("cnt"))

  /** Compact the streaming-append store into the serving layout — the
    * small-file maintenance pass every streaming-ingested warehouse
    * needs at scale: N micro-batches × Y years of tiny files become one
    * request_year-partitioned store. Re-delivered ids (a later batch
    * carrying a newer revision of an entry) resolve LAST-WRITER-WINS by
    * batch_id — one row_number window keyed by id, i.e. one shuffle of
    * the staged store, the same upsert semantics s5 pins. The write
    * repartitions by the partition key so each year emits its files
    * from one task group (`maxRecordsPerFile` caps them at scale), and
    * readers keep the exact same request_year pruning they had against
    * the staged store. */
  /** LWW ordering for the staged store: batch_id desc picks the newest
    * batch; within ONE batch (a micro-batch that carried two revisions
    * of the same id) the winner must still be deterministic across
    * retries, so ties break on a stable content hash — the same
    * revision wins on every replan, where a bare batch_id sort would
    * resolve by shuffle arrival order. (The events upsert path breaks
    * this tie on ts desc; entries carry no event-time column, so the
    * content hash is the stable stand-in.) */
  private def lwwOrder(staged: DataFrame) = {
    // Column names are SORTED before hashing so the tiebreak is a
    // function of the row's content alone — under schema order, a
    // column reorder would flip historical snapshotAt winners.
    val contentKey = xxhash64(to_json(struct(staged.columns.toSeq.sorted.map(col): _*)))
    Seq(col("batch_id").desc, contentKey.desc)
  }

  def compactAppendStore(spark: SparkSession, stagedPath: String,
                         compactedPath: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val staged = spark.read.parquet(stagedPath)
    val w = Window.partitionBy(col("id"))
      .orderBy(lwwOrder(staged): _*)
    staged.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn", "batch_id")
      .repartition(col("request_year"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 5000000)
      .partitionBy("request_year")
      .parquet(compactedPath)
  }

  /** Snapshot (time-travel) read of the staged append store: the state
    * as of batch watermark `asOfBatch` — batches beyond it are never
    * scanned (batch_id is a partition column, so the bound prunes at
    * the file index), and re-delivered ids within the horizon resolve
    * last-writer-wins exactly as compaction would. This is the engine's
    * analog of the reference's D1 time-travel bookmark (s8's input):
    * the staged store doubles as a replayable log, so "what did the
    * export see at bookmark B" is a filter, not a restore. */
  def snapshotAt(spark: SparkSession, stagedPath: String,
                 asOfBatch: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val staged = spark.read.parquet(stagedPath)
    val w = Window.partitionBy(col("id"))
      .orderBy(lwwOrder(staged): _*)
    staged
      .where(col("batch_id") <= asOfBatch)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Fixture store location for the registered gate queries — rewritten
    * idempotently per invocation (the corrected view is tiny; at scale
    * the write is the nightly sync's output, not per-query work).
    * Per-JVM path: a shared location would let one JVM's Overwrite
    * delete parquet files another JVM's in-flight scan already listed
    * (sbt test and Verify can run concurrently). The per-PID root is
    * removed on JVM exit so repeated runs don't accumulate in tmp. */
  val FixturePath: String = {
    val root = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft-warehouse-${ProcessHandle.current().pid()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(root)
    }))
    s"${root.getAbsolutePath}/entries"
  }

  /** Write-then-read composition the p3b/a8b gate queries share. */
  def fixtureStore(spark: SparkSession): String = {
    writeCorrected(spark, Fixture.df(spark), FixturePath)
    FixturePath
  }
}
