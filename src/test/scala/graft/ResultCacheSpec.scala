package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ResultCache

/** Materialized result cache: replay-on-fresh-bookmark, recompute on
  * bookmark movement, key canonicalization (param order must not
  * matter — the reference's stableStringify contract). */
class ResultCacheSpec extends AnyFunSuite with SparkSuite {

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_rescache")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("stable key is order-insensitive and scope-sensitive") {
    val a = ResultCache.stableKey("agency_stats", Seq("sort" -> "x", "page" -> "1"))
    val b = ResultCache.stableKey("agency_stats", Seq("page" -> "1", "sort" -> "x"))
    val c = ResultCache.stableKey("home_stats", Seq("page" -> "1", "sort" -> "x"))
    assert(a == b)
    assert(a != c)
  }

  test("fresh bookmark replays the materialization without recompute") {
    val dir = tmp()
    var computes = 0
    def compute() = {
      computes += 1
      entries.Fixture.df(spark).groupBy("resolution").agg(count(lit(1)).as("n"))
    }
    val params = Seq("window" -> "all")
    val (r1, hit1) = ResultCache.withCache(spark, dir, "type_counts", params, "bm-1")(compute())
    val want = r1.collect().map(_.toString).sorted.toSeq
    assert(!hit1 && computes == 1)
    val (r2, hit2) = ResultCache.withCache(spark, dir, "type_counts", params, "bm-1")(compute())
    assert(hit2 && computes == 1, "fresh bookmark must not recompute")
    assert(r2.collect().map(_.toString).sorted.toSeq == want)
    // the bookmark moved (source changed): recompute and replace
    val (r3, hit3) = ResultCache.withCache(spark, dir, "type_counts", params, "bm-2")(compute())
    assert(!hit3 && computes == 2)
    assert(r3.collect().map(_.toString).sorted.toSeq == want)
    // different params under the same scope are a different entry
    val (_, hit4) = ResultCache.withCache(spark, dir, "type_counts",
      Seq("window" -> "30d"), "bm-2")(compute())
    assert(!hit4 && computes == 3)
  }
}
