package graft

import org.scalatest.funsuite.AnyFunSuite

/** Partition-count invariance: every LIMIT/top-k query must select the
  * same row SET under different parallelism — i.e. each LIMIT sits on a
  * total order with a unique tiebreak. A query that passes the oracle
  * once but samples partition-dependent rows would flake the driver's
  * gate; this catches it structurally.
  *
  * n3_ann_ivf is exercised separately (PipelineSpec): k-means centroid
  * float sums are partition-order-dependent, so IVF guarantees recall
  * bounds, not byte-stable output — inherent to the algorithm.
  */
class DeterminismSpec extends AnyFunSuite with SparkSuite {

  private val limitQueries = Seq(
    "q_list_entries", "s9_rss_items",
    "n1_ann_bruteforce", "n2_ann_lsh", "n4_ann_batch",
    "s9b_rss_document", "s9c_agency_feed")

  test("limit-bearing queries are invariant to shuffle partition count") {
    val alt = spark.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "13")
    for (name <- limitQueries) {
      val a = SparkEntry.queries(name)(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      val b = SparkEntry.queries(name)(alt, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(a == b, s"$name: row set depends on partitioning")
      spark.catalog.clearCache()
      alt.catalog.clearCache()
    }
  }

  // No LIMIT in these, but each leans on a window / hash-bucket / batch
  // mechanism where a partitioning-sensitivity bug would hide: d20/d21
  // islands windows, n31's rank window + integer DCG.
  private val r13Queries = Seq(
    "d20_max_dup_spans", "d21_spans_against_index", "n31_ranking_eval",
    "d22_span_attribution", "n32_scalar_quant", "n34_matryoshka_recall",
    "n35_matryoshka_topk",
    // d23's best-match window + blocked self-join, d24's blocked
    // containment join — each leans on a window/join mechanism where a
    // partitioning-sensitivity bug would hide.
    "d23_record_linkage", "d24_containment",
    "d25_linkage_against_index", "n36_residual_pq", "n37_ann_ivfpq_residual",
    "n37b_ann_ivfpq_residual_persistent")

  test("round-13 additions are invariant to shuffle partition count") {
    val alt = spark.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "13")
    for (name <- r13Queries) {
      val a = SparkEntry.queries(name)(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      val b = SparkEntry.queries(name)(alt, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(a == b, s"$name: row set depends on partitioning")
      spark.catalog.clearCache()
      alt.catalog.clearCache()
    }
  }

  // d26/d27's block-size cap (a partial-agg count + semi-join), d11/
  // d20's re-formulated groupBy-min ownership — counting/min mechanisms
  // whose partial aggregation must be partition-invariant.
  private val r14Queries = Seq(
    "d26_linkage_block_audit", "d27_capped_linkage",
    "d11_dup_span_removal", "d20b_max_dup_spans_l30",
    // round 16: n42/n43's teacher-ranked triplet windows + shard
    // rollup (positive election must not depend on shuffle order),
    // d33's CC-keyed split + pair audit.
    "n42_distill_pairs", "n43_distill_lsh",
    "d33_leakage_safe_split",
    // round 17: d34's rarest-first gram sort + prefix-bucket candidate
    // join — the distinct/verify pipeline must not depend on shuffle
    // order (the frequency counts that define the order are exact ints).
    "d34_prefix_jaccard_join")

  test("round-14 additions are invariant to shuffle partition count") {
    val alt = spark.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "13")
    for (name <- r14Queries) {
      val a = SparkEntry.queries(name)(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      val b = SparkEntry.queries(name)(alt, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(a == b, s"$name: row set depends on partitioning")
      spark.catalog.clearCache()
      alt.catalog.clearCache()
    }
  }

  test("knuth32Col: the Spark expression matches BigInt truth past the overflow edge") {
    import spark.implicits._
    // Edge ids straddling every boundary the split-multiply cares
    // about, including ids where the naive product wraps Long (the
    // r15 overflow fix) — PropertySpec pins the pure formula against
    // arbitrary ids; this pins the SPARK EXPRESSION string itself.
    val ids = Seq(0L, 1L, 65535L, 65536L, 2147483647L, 2147483648L,
      3400000000L, 3472328297L, 4294967295L, 4294967296L,
      999999999999L, Long.MaxValue)
    val got = ids.toDF("vec_id")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        operators.OracleHash.knuth32Col("vec_id").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (id <- ids) {
      val want = (BigInt(id) * BigInt(2654435761L)).mod(BigInt(1L) << 32)
      assert(BigInt(got(id)) == want, s"knuth32($id): ${got(id)} != $want")
    }
  }
}
