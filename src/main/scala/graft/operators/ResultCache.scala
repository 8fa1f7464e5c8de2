package graft.operators

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized query-result cache — the Spark-idiomatic twin of the
  * reference's KV result cache (src/lib/db/query-cache.ts:26-47 keyed by
  * a stable param hash, src/lib/db/cache.ts invalidation, with the
  * export workflow's bookmark comparison as the freshness signal instead
  * of wall-clock TTLs, which no deterministic engine should depend on).
  *
  * The reference caches its expensive aggregates (agencyStats et al.,
  * src/lib/db/constants.ts TTLs up to 7 days) because recomputing them
  * per request is wasteful; at 100 TB the same holds 1000-fold — a
  * week's agencyStats over the full corpus is a large shuffle whose
  * result is a few thousand rows. This cache materializes such results
  * to parquet keyed by a canonical (scope, params) hash and replays them
  * until the source BOOKMARK (any change-detection string — S8's
  * max-id/count pair, a lake snapshot version) moves, at which point the
  * entry is recomputed and replaced (see [[withCache]] for what a
  * concurrent reader can observe). Driver-side work is two
  * tiny file reads; the result itself never passes through the driver.
  */
object ResultCache {

  /** Canonical stable form of the cache key data: params sorted by name,
    * `k=v` joined — the analog of the reference's stableStringify
    * (query-cache.ts:5-18, sorted object keys). */
  def stableKey(scope: String, params: Seq[(String, String)]): String = {
    val canonical = scope + ":" +
      params.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("&")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(canonical.getBytes(StandardCharsets.UTF_8))
    digest.map("%02x".format(_)).mkString
  }

  // Always resolve through the PATH's filesystem, never the configured
  // default one — a cache on s3a:// with an hdfs:// defaultFS would
  // otherwise throw "Wrong FS" on every bookmark probe.
  private def fsOf(spark: SparkSession, path: org.apache.hadoop.fs.Path) =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readBookmark(spark: SparkSession,
                           path: org.apache.hadoop.fs.Path): Option[String] = {
    val f = fsOf(spark, path)
    if (!f.exists(path)) None
    else {
      val in = f.open(path)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Returns (result, hit): `hit` is true when a fresh materialization
    * was replayed without invoking `compute`. A stale or missing entry
    * computes into a temp directory, deletes the old data directory,
    * renames the temp directory into its place, then advances the
    * bookmark. What holds: a data directory, once present, is a complete
    * write (never a half-written one), and the bookmark moves only after
    * the new data is in place. What does not hold: between the delete
    * and the rename there is NO data directory, so a concurrent reader
    * whose bookmark still matches fails to read it, and a reader already
    * scanning the old files can lose them mid-read. Concurrent misses on
    * one key also share `.data.tmp`. Callers must run one refresher per
    * key and keep readers off a key while it refreshes; ROADMAP item 7(a)
    * holds the fix (per-writer temp directories, version-named data
    * directories, the bookmark as a pointer). */
  def withCache(spark: SparkSession, cacheDir: String, scope: String,
                params: Seq[(String, String)], bookmark: String)
               (compute: => DataFrame): (DataFrame, Boolean) = {
    val key = stableKey(scope, params)
    val dataPath = new org.apache.hadoop.fs.Path(s"$cacheDir/$key/data")
    val bookmarkPath = new org.apache.hadoop.fs.Path(s"$cacheDir/$key/_bookmark")
    val fresh = readBookmark(spark, bookmarkPath).contains(bookmark)
    if (fresh) {
      (spark.read.parquet(dataPath.toString), true)
    } else {
      val tmpPath = new org.apache.hadoop.fs.Path(s"$cacheDir/$key/.data.tmp")
      val f = fsOf(spark, dataPath)
      f.delete(tmpPath, true)
      compute.write.mode("overwrite").parquet(tmpPath.toString)
      f.delete(dataPath, true)
      f.rename(tmpPath, dataPath)
      val out = f.create(bookmarkPath, true)
      try out.write(bookmark.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      (spark.read.parquet(dataPath.toString), false)
    }
  }
}
