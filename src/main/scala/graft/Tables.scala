package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's synthetic parquet tables (TESTDATA.md).
  *
  * Every query receives an `sfDir` (e.g. /root/testdata/sf0.01) and reads
  * one parquet file per table. At cluster scale these would be partitioned
  * parquet/Delta table roots; the API shape (DataFrame per table, lazily
  * planned, filter/projection pushed down by Catalyst) is identical.
  */
object Tables {
  /** Per-path SCHEMA memo (round-20): `spark.read.parquet` with no
    * user schema pays a driver-side footer read + schema merge on
    * EVERY call, and a bench/verify fleet re-opens the same ten static
    * tables thousands of times. A real lake fronts tables with a
    * catalog that serves the schema without touching storage; this map
    * is that catalog for the fixture dirs. Keyed by resolved path —
    * schema only, never data or results: every query still scans the
    * parquet itself. The fixture tables are write-once per path
    * (MakeScale emits NEW dirs), so a cached schema cannot go stale
    * within a JVM. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val sch = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(path)
  }

  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events.ts` has shipped under two physical encodings across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark surfaces as
    * LongType nanos under spark.sql.legacy.parquet.nanosAsLong=true (set
    * by every session builder here) — and plain TIMESTAMP(MICROS), which
    * arrives as a native TimestampType. A 100 TB lake always mixes
    * physical encodings across partition generations, so the loader
    * branches on the ACTUAL column dtype instead of assuming one:
    *   - LongType  ⇒ nanos; exact integer `div 1000` to micros (never
    *     divide by 1e9 in double — epoch-ns magnitudes exceed the 53-bit
    *     mantissa and timestamps silently lose precision). This is the
    *     same truncation DuckDB applies reading NANOS natively.
    *   - TimestampType / TimestampNTZType ⇒ already micros (Spark's
    *     native resolution); pass through, normalizing NTZ to TS so
    *     downstream operators see one type. The NTZ→TS cast
    *     reinterprets the wall-clock through spark.sql.session.timeZone,
    *     so every session builder in this repo pins
    *     `spark.sql.session.timeZone=UTC` — on a non-UTC driver the
    *     batch/stream loaders would otherwise shift event times by the
    *     session offset and disagree with the UTC-epoch oracle.
    *   - anything else ⇒ fail loudly — a silent cast here would corrupt
    *     every event-time operator downstream. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000"))) // integer div, not `/` (double)
      case TimestampType => raw
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other — expected " +
            "LongType (nanos-as-long) or TimestampType (micros)")
    }
  }
}
