package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the queries must not only return correct rows,
  * they must compile to the plan shapes that survive a 100x scale-up —
  * filters pushed into the parquet scan, dimension joins broadcast, no
  * cartesian products anywhere, hot paths under whole-stage codegen.
  */
class PlanSpec extends AnyFunSuite with SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("no registered query compiles to a CartesianProduct") {
    for ((name, fn) <- SparkEntry.queries) {
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }

  test("broadcast-dependent pipeline ops never shuffle the corpus side") {
    // n4: the query-vector set fans out via a broadcast join, so the
    // corpus side has no Exchange feeding the join from a shuffle of
    // corpus rows.
    assert(plan("n4_ann_batch").contains("Broadcast"),
      "n4: query set not broadcast")
  }

  test("n6: the ADC candidate pool is a bounded TakeOrdered, not a full sort") {
    // PQ's pool selection must compile to TakeOrderedAndProject (top-R
    // without a global sort); the exact rerank then touches <= R rows.
    val index = operators.Similarity.buildPqIndex(Tables.embeddings(spark, sf))
    val p = operators.Similarity.pqTopK(index, 0L, 10)
      .queryExecution.executedPlan.toString
    index.unpersist()
    assert(p.contains("TakeOrderedAndProject"), "n6: pool selection sorts globally")
  }

  test("n3c: the persistent IVF probe prunes cell partitions at the file index") {
    val built = operators.Similarity.buildIvfIndex(Tables.embeddings(spark, sf), nCells = 16)
    val path = util.TmpRoot("ivfplan") + "/ivf"
    operators.Similarity.writeIvfIndex(built, path)
    built.unpersist()
    val reloaded = operators.Similarity.readIvfIndex(spark, path)
    val p = operators.Similarity.ivfTopK(reloaded, 0L, 10)
      .queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*cell.*"),
      s"n3c: cell probe not pruning partitions:\n$p")
  }

  test("n44: the rebalanced store serves through the same directory-pruned probe path") {
    // applyIvfRebalance writes the writeIvfIndex layout, so the probe
    // must prune at the file index exactly like a fresh build — a
    // rebalance that silently dropped the cell partitioning would
    // re-scan the whole store on every query at 100 TB.
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val built = operators.Similarity.buildIvfIndex(emb, nCells = 16)
    val root = util.TmpRoot("rebalplan")
    operators.Similarity.writeIvfIndex(built, s"$root/base")
    built.unpersist()
    operators.Similarity.applyIvfRebalance(spark, s"$root/base", s"$root/out")
    val reloaded = operators.Similarity.readIvfIndex(spark, s"$root/out")
    val p = operators.Similarity.ivfTopK(reloaded, 0L, 10)
      .queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*cell.*"),
      s"n44: rebalanced-store probe not pruning partitions:\n$p")
  }

  test("n41b: the served maxsim candidate read prunes cell partitions at the file index") {
    val toks = operators.Similarity.maxsimTokens(Tables.embeddings(spark, sf))
    val built = operators.Similarity.buildIvfIndex(
      toks.selectExpr("token_id AS vec_id", "tv AS embedding"),
      nCells = 16)
    val path = util.TmpRoot("maxsimplan") + "/maxsim"
    operators.Similarity.writeIvfIndex(built, path)
    built.unpersist()
    val stored = operators.Similarity.readIvfIndex(spark, path)
    val qt = toks.where("doc_id IN (0, 1)")
    val p = operators.Similarity.maxsimServedCandidates(stored, qt)
      .queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*cell.*"),
      s"n41b: candidate read not pruning cell partitions:\n$p")
    spark.catalog.clearCache()
  }

  test("n8b: the persistent IVF-PQ probe prunes cell partitions at the file index") {
    val built = operators.Similarity.buildIvfPqIndex(Tables.embeddings(spark, sf), nCells = 16)
    val path = util.TmpRoot("ivfpqplan") + "/ivfpq"
    operators.Similarity.writeIvfPqIndex(built, path)
    built.unpersist()
    val reloaded = operators.Similarity.readIvfPqIndex(spark, path)
    val p = operators.Similarity.ivfPqTopK(reloaded, 0L, 10)
      .queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*cell.*"),
      s"n8b: cell probe not pruning partitions:\n$p")
  }

  test("n37b: the persistent residual IVF-PQ probe prunes cell partitions at the file index") {
    val built = operators.Similarity.buildIvfPqResidualIndex(
      Tables.embeddings(spark, sf), nCells = 16)
    val path = util.TmpRoot("ivfpqresplan") + "/ivfpqres"
    operators.Similarity.writeIvfPqResidualIndex(built, path)
    built.unpersist()
    val reloaded = operators.Similarity.readIvfPqResidualIndex(spark, path)
    val p = operators.Similarity.ivfPqResidualTopK(reloaded, 0L, 10)
      .queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*cell.*"),
      s"n37b: cell probe not pruning partitions:\n$p")
    // and the raw n8b store refuses to serve through the residual path
    val rawBuilt = operators.Similarity.buildIvfPqIndex(
      Tables.embeddings(spark, sf), nCells = 16)
    val rawPath = util.TmpRoot("ivfpqrawplan") + "/ivfpqraw"
    operators.Similarity.writeIvfPqIndex(rawBuilt, rawPath)
    rawBuilt.unpersist()
    intercept[IllegalArgumentException] {
      operators.Similarity.readIvfPqResidualIndex(spark, rawPath)
    }
  }

  test("dq1: referential-integrity checks anti-join with a broadcast build side") {
    val p = plan("dq1_quality_checks")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"dq1: RI checks should be broadcast anti-joins:\n$p")
  }

  test("n11: hard-negative mining rides the bounded aggregator, no window sort") {
    val p = plan("n11_hard_negatives")
    assert(!p.contains("Window"), s"n11: unexpected window sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"n11: query side should broadcast:\n$p")
  }

  test("d10: the batch probe prunes bucket partitions of the stored index") {
    val docs = Tables.documents(spark, sf)
    val built = operators.Dedup.buildMinhashIndex(docs)
    val path = util.TmpRoot("mhplan") + "/minhash"
    operators.Dedup.writeMinhashIndex(built, path)
    built.unpersist()
    val stored = operators.Dedup.readMinhashIndex(spark, path)
    val batch = operators.Dedup.buildMinhashIndex(operators.Dedup.newBatchOf(docs))
    val p = operators.Dedup.dedupAgainstIndex(stored, batch, threshold = 0.5)
      .queryExecution.executedPlan.toString
    batch.unpersist()
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket.*"),
      s"d10: bucket probe not pruning partitions:\n$p")
  }

  test("flagship + hot aggregates run under whole-stage codegen") {
    // whole-stage codegen shows as a `*(n)` stage prefix in the tree
    // string; under AQE the codegen'd final plan only exists after an
    // action, so execute first.
    for (name <- Seq("q_list_entries", "q_agency_stats", "q_home_stats")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // finalize this plan in place (a write would clone it)
      assert(df.queryExecution.executedPlan.toString.contains("*("),
        s"$name: no codegen span")
    }
  }

  test("ANN brute-force top-k avoids a global sort (TakeOrderedAndProject)") {
    assert(plan("n1_ann_bruteforce").contains("TakeOrderedAndProject"))
  }

  test("pagination plans to TakeOrderedAndProject, never a global window sort") {
    import graft.entries.{Engine, Fixture, SearchOptions}
    // OFFSET mode: per-partition top-(page·pageSize) heaps + bounded merge.
    // listEntries itself returns a materialized page (so it can release its
    // cache eagerly); audit the lazy slice plan it materializes.
    val opts = SearchOptions(sort = "newest", page = 2, pageSize = 5)
    val slice = Engine.pageSlice(spark,
      Engine.listEntriesFiltered(spark, Fixture.df(spark), opts), opts, 2)
    val p = slice.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), "listEntries page: no TakeOrderedAndProject")
    assert(!p.contains("Window"), "listEntries page: global window sort")
    // keyed-cursor mode: filtered scan + top-pageSize, no offset at all
    val cur = Engine.listEntriesAfter(spark, Fixture.df(spark),
      SearchOptions(sort = "newest", pageSize = 5), Some("2025-05-01"), 2L)
    val pc = cur.queryExecution.executedPlan.toString
    assert(pc.contains("TakeOrderedAndProject") && !pc.contains("Window"))
  }

  test("pipeline windows are always partitioned (no global-sort Window)") {
    // A WindowExec with an empty partitionSpec funnels every row through
    // one task — the classic scale-killer. d23's window must partition
    // by its group key. plan.collect alone would be VACUOUS here: under
    // AQE the executed plan is an AdaptiveSparkPlanExec leaf, so the
    // walk must descend through adaptive wrappers and query stages.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ nested).flatMap(flatten)
    }
    def globalWindows(df: org.apache.spark.sql.DataFrame) =
      flatten(df.queryExecution.executedPlan).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
    // Positive control: an unpartitioned window, built here. If the
    // walker stops seeing it, the walker is broken, not the plans.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, sum}
    val control = spark.range(10)
      .withColumn("run", sum(col("id")).over(Window.orderBy(col("id"))))
    assert(globalWindows(control).nonEmpty,
      "plan walker no longer sees known global windows — vacuous test")
    assert(globalWindows(SparkEntry.queries("d23_record_linkage")(spark, sf)).isEmpty,
      "d23_record_linkage: unpartitioned Window in plan")
  }

  test("d15/t38: small-side rollups broadcast back onto the corpus") {
    // (The t38 half of this case went with the text-analysis queries.)
    // d15: the O(clusters) size rollup must broadcast; a shuffled join
    // here would re-exchange the corpus for a frame thousands of times
    // smaller.
    assert(plan("d15_soft_dedup_weights").contains("BroadcastHashJoin"),
      "d15: size rollup not broadcast")
  }

  test("n18 feature gather never shuffles the corpus (broadcast joins only)") {
    // The rerank stage's contract: the O(k) pool is broadcast into the
    // document/embedding scans, and the gathered features broadcast
    // back onto the pool — a shuffled LeftOuter join would mean a
    // corpus-sized estimate leaked into a 10-row gather. The two
    // FullOuter SortMergeJoins are n7's rank fusion over two ≤ 20-row
    // frames (Spark cannot broadcast a full outer), bounded by
    // construction — only the gather joins are pinned here.
    val p = plan("n18_cross_rerank")
    assert(!p.contains("SortMergeJoin LeftOuter"), s"n18 shuffled gather:\n$p")
    assert(!p.contains("ShuffledHashJoin"), s"n18 shuffled hash join:\n$p")
  }

  test("LSH candidate joins are equality joins on band keys, not loops") {
    for (name <- Seq("d2_minhash_lsh", "d3_simhash")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name: nested-loop join")
      assert(!p.contains("CartesianProduct"), s"$name: cartesian")
    }
  }

  test("persistent FTS index probes prune partitions AND push the term range") {
    // p6f's probe (Fts.probeIds) reads the query's first-char
    // directories directly, so the pruning shows as the files it opens.
    import graft.operators.Fts
    val path = java.nio.file.Files.createTempDirectory("graft_fts_plan").toString + "/terms"
    Fts.writeTermIndex(
      Fts.termIndex(Tables.documents(spark, sf), "doc_id", Seq("text")), path)
    val q = Fts.prefixScan(spark, path, Seq("spar", "wind")).get
    q.collect()
    // only the probe keys' directories are opened…
    val files = q.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(f =>
      f.contains("/term_pfx=s/") || f.contains("/term_pfx=w/")),
      s"p6f: opened files outside term_pfx=s|w: $files")
    val p = q.queryExecution.executedPlan.toString
    // …and the sargable prefix range reaches the parquet scan (no
    // closing-bracket anchor: plan toString truncates long lists).
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(term.*"),
      s"p6f: term prefix range not pushed to the scan:\n$p")
  }

  test("filtered ANN: label predicate pushed into the probed cells' scan") {
    import graft.operators.Similarity
    val path = java.nio.file.Files.createTempDirectory("graft_fann_plan").toString + "/ivf"
    val built = Similarity.buildIvfIndex(Tables.embeddings(spark, sf), nCells = 16)
    Similarity.writeIvfIndex(built, path)
    built.unpersist()
    val index = Similarity.readIvfIndex(spark, path)
    val q = Similarity.ivfTopKFiltered(index, queryVecId = 0L, k = 10,
      pred = org.apache.spark.sql.functions.col("label") === 2, nProbe = 8)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    // ONE plan must show both pruning levels: the probe set at the
    // directory index AND the metadata predicate at the parquet scan
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*cell.*"),
      s"filtered ANN: no cell partition filter:\n$p")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(label,2\\).*"),
      s"filtered ANN: label predicate not pushed to the scan:\n$p")
  }

  test("engine maintained-FTS route prunes the index on term_pfx") {
    // The engine probes the index on the driver (Fts.probeIds), reading
    // the query's first-char directories directly: only term_pfx=s and
    // term_pfx=w are opened, and the prefix range reaches the scan.
    import graft.entries.{Engine, Fixture}
    import graft.operators.Fts
    val path = java.nio.file.Files.createTempDirectory("graft_engfts_plan").toString + "/terms"
    Engine.writeFtsIndex(spark, Fixture.df(spark), path)
    val q = Fts.prefixScan(spark, path, Engine.ftsPrefixes("spark wind")).get
    q.collect()
    val files = q.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(f =>
      f.contains("/term_pfx=s/") || f.contains("/term_pfx=w/")),
      s"engine FTS route: opened files outside term_pfx=s|w: $files")
    val p = q.queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(term.*"),
      s"engine FTS route: term prefix range not pushed to the scan:\n$p")
  }

  test("warehouse product reads prune partitions AND push the residual range") {
    // The registered product queries themselves (not a synthetic read):
    // the P3b range and A8b timeline must carry a request_year partition
    // filter — the date-B-tree analog — plus the pushed residual range.
    for (name <- Seq("p3b_warehouse_range", "a8b_warehouse_timeline")) {
      val p = plan(name)
      assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*request_year[^\\]]*\\].*"),
        s"$name: no request_year partition filter:\n$p")
    }
    // No closing-bracket anchor: plan toString truncates long filter lists.
    val p3 = plan("p3b_warehouse_range")
    assert(p3.matches("(?s).*PushedFilters: \\[[^\\]]*corrected_request.*"),
      s"p3b: corrected_request range not pushed to the scan:\n$p3")
  }

  test("r12 batch: tiny stat frames broadcast; rollups never sort raw streams") {
    // n23: the energy normalizer is a 1-row broadcast, never a shuffle.
    assert(plan("n23_dim_stats").contains("BroadcastNestedLoopJoin") ||
      plan("n23_dim_stats").contains("BroadcastHashJoin"),
      "n23: total-energy normalizer not broadcast")
  }

  test("r12 batch 4: cube / power-user / compaction / CMS shapes") {
    // n26: the occupancy total is a 1-row broadcast over the stored
    // artifact read.
    assert(plan("n26_ivf_rebalance_plan").contains("Broadcast"),
      "n26: occupancy total not broadcast")
    // n27: the O(model) centroid table broadcasts against the
    // (cell, dim)-agg of the assigned frame — never the reverse.
    val n27 = plan("n27_centroid_drift")
    assert(n27.contains("BroadcastHashJoin"), "n27: centroids not broadcast")
    // g4: noised release is agg + map-side hash arithmetic — no joins
    // at all.
    val g4 = plan("g4_dp_release")
    assert(!g4.contains("Join"), "g4: unexpected join in noised release")
    // n29: occupancy off the written code table, per-subspace totals
    // broadcast.
    assert(plan("n29_pq_code_balance").contains("BroadcastHashJoin"),
      "n29: subspace totals not broadcast")
    // g5: cumulative window over the O(years) rollup; total broadcasts.
    assert(plan("g5_ttl_expiry_plan").contains("Broadcast"),
      "g5: total not broadcast")
  }

  test("r13 batch: new-query plan shapes (spans, ranking eval, curation funnel)") {
    // d20: ownership election must PARTIAL-aggregate (map-side combine
    // collapses a hot boilerplate gram to ~one row per mapper) and
    // join back on gh — the skew-safe formulation; the companion
    // "never a Window over gh" pin lives in its own test below.
    val d20 = plan("d20_max_dup_spans")
    assert(d20.contains("partial_min(doc_id"),
      s"d20: gram ownership must partial-aggregate min(doc_id):\n$d20")
    // d21: the stored-index probe is a LEFT SEMI on the gram hash —
    // the batch never materializes corpus rows, only existence.
    assert(plan("d21_spans_against_index").contains("LeftSemi"),
      "d21: index probe should be a left-semi join")
    // n31: the bounded ranked pool and the O(k) weight table broadcast
    // against the corpus-sized label frame — label side never shuffles
    // into a sort-merge join. (The gate wrapper collects its 8-row
    // output, so audit the OPERATOR's plan, not the harness's.)
    val emb31 = Tables.embeddings(spark, sf)
    val ix31 = operators.Similarity.buildIvfIndex(emb31, nCells = 16)
    val n31 = operators.Similarity.retrievalRankingEval(
        ix31, emb31, queryIds = Seq(0L, 1L), k = 10)
      .queryExecution.executedPlan.toString
    ix31.unpersist()
    assert(n31.contains("Broadcast") && !n31.contains("SortMergeJoin"),
      s"n31: expected broadcast-only joins:\n$n31")
    // n32: the O(dims) stats frame broadcasts back onto the exploded
    // fact side — never a sort-merge exchange of the corpus.
    val n32 = plan("n32_scalar_quant")
    assert(n32.contains("BroadcastHashJoin") && !n32.contains("SortMergeJoin"),
      s"n32: expected broadcast stats join:\n$n32")
    // n34: every per-budget retrieval broadcasts its m-query side; the
    // corpus is scanned, never shuffled into a sort-merge join.
    val n34 = plan("n34_matryoshka_recall")
    assert(n34.contains("Broadcast"), s"n34: query side not broadcast:\n$n34")
    // n35: both the shortlist gather and the query side broadcast —
    // the corpus is probed map-side in both stages, never shuffled
    // into a sort-merge join.
    val n35 = plan("n35_matryoshka_topk")
    assert(n35.contains("Broadcast") && !n35.contains("SortMergeJoin"),
      s"n35: expected broadcast-only store gather:\n$n35")
    // d23/d24: candidate generation is a key-equality join on the
    // blocking key — a nested-loop fallback here would be the n²
    // all-pairs scan the module forbids.
    for (n <- Seq("d23_record_linkage", "d24_containment")) {
      val p = plan(n)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$n: blocking join degenerated to a nested loop:\n$p")
    }
    // d23: the best-match rank runs per left record, never globally.
    val d23 = plan("d23_record_linkage")
    assert("(?s).*Window \\[[^\\]]*\\], \\[doc_a[^\\]]*\\].*".r
      .findFirstIn(d23).isDefined,
      s"d23: best-match window not partitioned by doc_a:\n$d23")
  }

  test("d21: the gram-index probe prunes bucket partitions at the file index") {
    import operators.Dedup
    val path = util.TmpRoot("gramplan") + "/grams"
    Dedup.writeGramIndex(Tables.documents(spark, sf), minLen = 10, path)
    val stored = Dedup.readGramIndex(spark, path)
    val p = Dedup.dupSpansAgainstIndex(stored,
        Dedup.spanBatchOf(Tables.documents(spark, sf)))
      .queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket.*"),
      s"d21: bucket probe not pruning partitions:\n$p")
  }

  test("d32: the attributed gram probe prunes bucket partitions too") {
    import operators.Dedup
    val path = util.TmpRoot("gramflowplan") + "/grams"
    Dedup.writeGramIndex(Tables.documents(spark, sf), minLen = 10, path)
    val stored = Dedup.readGramIndex(spark, path)
    val p = Dedup.dupSpansAgainstIndexAttributed(stored,
        Dedup.spanBatchOf(Tables.documents(spark, sf)))
      .queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket.*"),
      s"d32: attributed bucket probe not pruning partitions:\n$p")
  }

  test("d25: the linkage-index probe prunes bucket partitions at the file index") {
    import operators.Dedup
    val path = util.TmpRoot("linkplan") + "/linkage"
    Dedup.writeLinkageIndex(Tables.documents(spark, sf), path)
    val stored = Dedup.readLinkageIndex(spark, path)
    val p = Dedup.linkAgainstIndex(stored,
        Dedup.linkBatchOf(Tables.documents(spark, sf)), maxDist = 20)
      .queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket.*"),
      s"d25: bucket probe not pruning partitions:\n$p")
  }

  test("gram ownership never runs a Window over the gram key") {
    // d11/d20/d20b/d22 elect the first-occurrence owner per gram. A
    // Window.partitionBy(gh) cannot partial-aggregate: every occurrence
    // of a hot gram (duplicated boilerplate — this operator's own
    // target) would sort on ONE task. The skew-safe form is
    // groupBy(gh).agg(min) + join-back (map-side partial min collapses
    // hot keys; the join is AQE-skew-splittable). Pin it: no logical
    // Window in these plans may partition on gh — only the bounded
    // per-doc islands windows (partitioned on doc_id) are allowed.
    for (name <- Seq("d11_dup_span_removal", "d20_max_dup_spans",
        "d20b_max_dup_spans_l30", "d22_span_attribution")) {
      val wins = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }
      val overGram = wins.filter(_.partitionSpec.exists(
        _.references.exists(_.name == "gh")))
      assert(overGram.isEmpty,
        s"$name: gram-key Window (skew-fragile): ${overGram.mkString(";")}")
      spark.catalog.clearCache()
    }
  }

  test("corpus-sized graph outputs are executor-materialized, never a driver collect") {
    // n16/n17/n19/n24/d16/d19 return one row per corpus vector/document
    // (or per dup cluster). Their frames must arrive as lineage-cut
    // distributed RDD scans (Exec.materializedCut), NOT LocalRelations —
    // a LocalRelation in the analyzed plan means every row crossed the
    // driver, the pattern that dies first at 100x scale.
    for (name <- Seq("n16_knn_graph", "n17_mutual_knn_clusters",
        "n19_knn_label_propagation", "n24_pagerank_centrality",
        "d16_neardup_clusters", "d19_survivorship",
        "d9_semantic_dedup_apply")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val leaves = df.queryExecution.analyzed.collectLeaves()
      assert(leaves.nonEmpty && !leaves.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        s"$name: result passed through the driver (LocalRelation leaf)")
      spark.catalog.clearCache()
    }
  }

  test("materializedCut: internal-row cut preserves rows through buffering operators") {
    // Round-20 internals change: the cut wraps queryExecution.toRdd
    // (internal rows, copied per row — toRdd iterators REUSE mutable
    // row buffers) instead of the external-Row decode/encode round
    // trip. The copy contract is what this pins: feed the cut a
    // multi-partition frame with non-primitive columns, then run it
    // through operators that BUFFER rows (sort + aggregation). A
    // missing copy() surfaces as the last row of each batch repeated.
    import org.apache.spark.sql.functions._
    val src = spark.range(0, 1000, 1, 7)
      .select(col("id"), concat(lit("doc-"), col("id")).as("s"),
        (col("id") % 13).as("k"))
    val expect = src.orderBy("id").collect().toSeq
    val cut = graft.util.Exec.materializedCut(src)
    // leaf must be a distributed scan, not a LocalRelation (no driver pass)
    val leaves = cut.queryExecution.analyzed.collectLeaves()
    assert(!leaves.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      "cut frame passed through the driver")
    assert(cut.schema == src.schema, "cut changed the schema")
    val got = cut.orderBy("id").collect().toSeq
    assert(got == expect, "cut rows differ after a buffering sort")
    val dist = cut.select(countDistinct("s")).head().getLong(0)
    assert(dist == 1000L, s"cut collapsed distinct values: $dist")
    spark.catalog.clearCache()
  }

  test("distillation gather: corpus token frame probed by broadcast, never shuffled") {
    // n42/n43's feature stage joins the corpus-sized document token
    // frame against the bounded mined pair list TWICE. Both must be
    // broadcast gathers (pair list builds the hash side); a sort-merge
    // join here would shuffle the whole corpus per export at 100 TB.
    // The registered queries' own plans only show the manifest read
    // (mining runs inside the export write), so pin the stage directly.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mined = Seq((1L, 2L, 0.9, 1.1), (3L, 4L, 0.8, 1.05))
      .toDF("vec_a", "vec_b", "cos", "margin")
    val p = operators.Similarity
      .distillFeatures(Tables.documents(spark, sf), mined)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "gather joins not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "distill gather shuffles the corpus token frame")
  }

  test("d34: the verify gathers are shuffled hash joins, never sort-merge") {
    // The sf10 rehearsal's one super-linear stage was the verify
    // gather's sort-merge join externally sorting the candidate stream
    // with KB-sized token arrays attached (REHEARSAL_sf10.json:
    // 93.2 s SMJ vs 79.8 s hash at 19.3M candidates). The hints in
    // Dedup.verifyJaccard pin the token table as the hash-join BUILD
    // side; this test pins that a Spark upgrade or refactor cannot
    // silently fall back to the sorting plan.
    val p = plan("d34_prefix_jaccard_join")
    assert(p.contains("ShuffledHashJoin"),
      s"d34 verify gathers lost the shuffle_hash shape:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"d34 verify gather degraded to a sort-merge join:\n$p")
    spark.catalog.clearCache()
  }

  test("d34 winners frame reads the ids sidecar, never the token directory") {
    // The O(deliveries) contract of Dedup.prefixWinners (round 19): a
    // revert to aggregating the token directory would hold the bound
    // only by the grace of parquet column pruning — this pins the
    // sidecar as the scanned source whenever it exists.
    import org.apache.spark.sql.functions.col
    val idx = util.TmpRoot("pfxwinplan") + "/idx"
    operators.Dedup.writePrefixIndex(
      Tables.documents(spark, sf).where(col("doc_id") < 40)
        .select(col("doc_id"), col("text")), idx)
    val p = operators.Dedup.prefixWinners(spark, idx)
      .queryExecution.executedPlan.toString
    assert(p.contains("/ids"), s"winners not reading the ids sidecar:\n$p")
    assert(!p.contains("/toks"), s"winners reading the token directory:\n$p")
    spark.catalog.clearCache()
  }

  test("incremental maintainers: LWW layers + candidate-participant prune below the verify gathers (minhash/simhash/vector)") {
    // The round-19 candidate-participant prunes (and this round's LWW
    // stored-read layers) were pinned only by StreamingSpec output
    // equivalence — which stays green if a prune silently stops
    // pruning. Pin the PLAN: each maintainer's per-batch body (the
    // factored *IncrementalBatch functions the foreachBatch closures
    // call) must show (a) the layer-(b) supersession LeftAnti on the
    // stored read, and (b) a LeftSemi under the verify gather's BUILD
    // side — the prune that bounds the per-batch hash build at
    // candidate occupancy instead of the accumulated index.
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).where(col("doc_id") < 30)
      .select(col("doc_id"), col("text"))
    val vecs = Tables.embeddings(spark, sf).where(col("vec_id") < 30)
      .select(col("vec_id"), col("embedding"))
    def storedOf(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("batch_id", lit(0L))
    val cases: Seq[(String, org.apache.spark.sql.DataFrame, String)] = Seq(
      ("minhash", {
        val sh = operators.Dedup.signatureFrame(docs)
        operators.Dedup.minhashIncrementalBatch(sh, storedOf(sh), 0.5)
      }, "sha"),
      ("simhash", {
        val sims = operators.Dedup.simhashFrame(docs)
        operators.Dedup.simhashIncrementalBatch(sims, storedOf(sims), 3)
      }, "sim_a"),
      ("vector", {
        val q = vecs.select(col("vec_id"),
          operators.Similarity.quant(col("embedding")).as("v"))
        operators.Similarity.vectorIncrementalBatch(q, storedOf(q), 0.9)
      }, "va"))
    for ((name, df, gatherCol) <- cases) {
      val lp = df.queryExecution.optimizedPlan
      assert(lp.collect { case j: Join if j.joinType == LeftAnti => j }.nonEmpty,
        s"$name: layer-(b) supersession anti-join missing from the batch plan")
      val gathers = lp.collect {
        case j: Join if j.joinType == Inner && j.output.exists(_.name == gatherCol) => j
      }
      assert(gathers.nonEmpty, s"$name: no verify gather join producing $gatherCol")
      assert(gathers.exists(_.right.collect {
          case j: Join if j.joinType == LeftSemi => j }.nonEmpty),
        s"$name: verify gather build side lost the candidate-participant semi-join prune")
      spark.catalog.clearCache()
    }
  }
}
