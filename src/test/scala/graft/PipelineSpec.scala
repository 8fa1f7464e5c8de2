package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity, Fts}

/** Behavior checks for the rows-only pipeline operators: planted
  * duplicates must be found, LSH candidates must prune, FTS must honor
  * diacritic folding. */
class PipelineSpec extends AnyFunSuite with SparkSuite {

  test("d1: exact dedup finds exactly the planted clone groups") {
    val docs = Tables.documents(spark, sf)
    val dups = Dedup.withExactProbes(docs)
      .groupBy(md5(Dedup.normText(col("text")).cast("binary")).as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
      .where(col("n") > 1)
      .collect()
    assert(dups.length == 10)
    assert(dups.forall(_.getLong(1) == 2)) // each group: original + clone
    assert(dups.map(_.getLong(2)).sorted.toSeq == (0L until 10L))
  }

  test("d2: MinHash-LSH surfaces every planted near-duplicate pair") {
    val index = Dedup.buildMinhashIndex(
      Dedup.withNearProbes(Tables.documents(spark, sf)))
    val pairs = Dedup.minhashPairs(index, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    index.unpersist()
    val planted = (10L until 20L).map(i => (i, i + 1000000L)).toSet
    assert(planted.subsetOf(pairs),
      s"missing planted pairs: ${planted -- pairs}")
    // near-clone, not exact: jaccard < 1 for planted pairs
  }

  test("d10: batch dedup through the written index finds every planted match") {
    val docs = Tables.documents(spark, sf)
    val ix = Dedup.buildMinhashIndex(docs)
    val path = util.TmpRoot("mh-spec") + "/minhash"
    Dedup.writeMinhashIndex(ix, path)
    ix.unpersist()
    val stored = Dedup.readMinhashIndex(spark, path)
    val batch = Dedup.buildMinhashIndex(Dedup.newBatchOf(docs))
    val rows = Dedup.dedupAgainstIndex(stored, batch, threshold = 0.5).collect()
    batch.unpersist()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 20L).map(i => (i, i + 1000000L)).toSet
    assert(planted.subsetOf(pairs), s"missing planted: ${planted -- pairs}")
    // exact clones (0-9) verify at jaccard exactly 1.0; near clones don't
    val j = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (i <- 0L until 10L) assert(j((i, i + 1000000L)) == 1.0)
    for (i <- 10L until 20L) assert(j((i, i + 1000000L)) < 1.0)
  }

  test("d3: SimHash bands + hamming finds planted near-duplicates") {
    val index = Dedup.buildSimhashIndex(
      Dedup.withNearProbes(Tables.documents(spark, sf)))
    val pairs = Dedup.simhashPairs(index)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    index.unpersist()
    // Ground truth from the same pure simhash: banding guarantees FULL
    // recall for Hamming <= 3, so exactly the planted pairs within that
    // distance must surface (appending 3 tokens shifts few bits on long
    // docs, many on short ones — distance varies per doc).
    val texts = Tables.documents(spark, sf).where(col("doc_id") >= 10 && col("doc_id") < 20)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sim(t: String) = Dedup.simhash(
      t.toLowerCase.trim.replaceAll("\\s+", " ").split(" ").toSeq)
    val expected = texts.collect {
      case (id, t) if java.lang.Long.bitCount(
        sim(t) ^ sim(t + " zz0 zz1 zz2")) <= 3 => (id, id + 1000000L)
    }.toSet
    assert(expected.nonEmpty, "vacuous: no planted pair within Hamming 3")
    assert(expected.subsetOf(pairs),
      s"missing planted pairs within Hamming 3: ${expected -- pairs}")
  }

  test("d13: the occupancy cap drops EXACTLY the all-hot-band pairs") {
    import graft.operators.Dedup
    val cap = 8
    val docs = Tables.documents(spark, sf)
    val corpus = Dedup.withNearProbes(docs)
      .unionByName(docs.where(col("doc_id") === 0)
        .select(explode(sequence(lit(0), lit(11))).as("i"), col("text"))
        .select((col("i") + 2000000).cast("long").as("doc_id"), col("text")))
    val ix = Dedup.buildMinhashIndex(corpus)
    try {
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val uncapped = pairSet(Dedup.minhashPairs(ix, threshold = 0.5))
      val capped = pairSet(Dedup.minhashPairsCapped(ix, threshold = 0.5, cap))
      assert(capped.subsetOf(uncapped), "cap invented pairs")
      // characterize the trade precisely: a pair is dropped iff EVERY
      // band it shares is over the cap
      val bands = Dedup.bandedOf(ix.sigs)
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val occ = bands.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
      for (p @ (a, b) <- uncapped) {
        val shared = bands(a).intersect(bands(b))
        val allHot = shared.nonEmpty && shared.forall(occ(_) > cap)
        assert(capped.contains(p) != allHot,
          s"pair $p: allHot=$allHot but capped-membership=${capped.contains(p)}")
      }
      // and the guard actually bites: the planted hot cluster is gone
      assert(uncapped.exists(p => p._1 >= 2000000 || p._2 >= 2000000))
      assert(!capped.exists(p => p._1 >= 2000000 || p._2 >= 2000000))
    } finally ix.unpersist()
  }

  test("d2/d3: empty and whitespace-only docs never become near-dup candidates") {
    import spark.implicits._
    // Degenerate docs all share one signature; without the banding guard
    // they'd collapse into a single bucket and emit O(n^2) "pairs".
    val docs = Seq(
      (1L, ""), (2L, "   "), (3L, "\t\n"), (4L, ""),
      (5L, "a real document with several words inside it"),
      (6L, "a real document with several words inside it too")
    ).toDF("doc_id", "text")
    val mhIndex = Dedup.buildMinhashIndex(docs)
    val mh = Dedup.minhashPairs(mhIndex, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    mhIndex.unpersist()
    assert(mh.forall { case (a, b) => a >= 5L && b >= 5L },
      s"degenerate docs surfaced as minhash candidates: $mh")
    val shIndex = Dedup.buildSimhashIndex(docs)
    val sh = Dedup.simhashPairs(shIndex)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    shIndex.unpersist()
    assert(sh.forall { case (a, b) => a >= 5L && b >= 5L },
      s"degenerate docs surfaced as simhash candidates: $sh")
  }

  test("d6: connected components propagate the min label across multi-hop chains") {
    import spark.implicits._
    // 1-2-3-20-21 is one path component of diameter 4 (several propagation
    // rounds required); 10-11 is separate; the rep is always the min id.
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (3L, 20L), (21L, 20L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 20L -> 1L, 21L -> 1L,
      10L -> 10L, 11L -> 10L)
    assert(got == want)
    spark.catalog.clearCache()
  }

  test("star-contraction CC: adversarial graphs match the label loop, rounds stay logarithmic") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // (a) 512-node chain with SHUFFLED ids — the diameter-511 case the
    // resolver exists for (min-propagation pays one round per hop;
    // star contraction must stay ~log2);
    val perm = rnd.shuffle((0L until 512L).toVector)
    val chain = perm.sliding(2).map(p => (p(0), p(1))).toSeq
    // (b) disjoint cliques (flat dedup shape); (c) random sparse graph
    // with duplicate and reversed edges and self-loops.
    val cliques = for (c <- 0 until 8; i <- 1 until 16)
      yield (1000L + c * 16L + i, 1000L + c * 16L)
    val random = Seq.fill(300)((2000L + rnd.nextInt(200), 2000L + rnd.nextInt(200)))
    // Independent oracle: a plain sequential union-find over the same
    // pairs (NOT a distributed resolver — a diameter-511 chain costs a
    // min-propagation loop hundreds of rounds, which is exactly why
    // star contraction exists).
    def ufLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      nodes.map(n => n -> find(n)).toMap
    }
    for ((name, pairs) <- Seq("chain" -> chain, "cliques" -> cliques,
        "random" -> random)) {
      val df = pairs.toDF("doc_a", "doc_b")
      val (starDf, rounds) = Dedup.starCcWithRounds(df)
      val star = starDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = ufLabels(pairs)
      // star carries only non-roots; a node the star frame omits must
      // be its own component min.
      assert(want.forall { case (n, c) => star.getOrElse(n, n) == c },
        s"$name: star labels disagree with sequential union-find")
      assert(star.forall { case (n, c) => n != c },
        s"$name: star frame contains a self-labeled row")
      assert(rounds <= 15, s"$name: $rounds rounds — not logarithmic")
      spark.catalog.clearCache()
    }
    // empty edge set: zero rounds, empty label frame
    val (emptyDf, r0) = Dedup.starCcWithRounds(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(emptyDf.count() == 0L && r0 == 0)
    spark.catalog.clearCache()
  }

  test("cc auto-selection: pointer-jumping overflow switches to star contraction, labels identical") {
    // Round-21 (verdict ask #8): a chain-shaped graph makes the
    // pointer-jumping loop's label-of-label doubling degrade toward
    // diameter-bound rounds; round-count overflow now SWITCHES the
    // resolver to star contraction instead of failing. The fallback's
    // contract is drop-in equality: the label frame (every edge
    // endpoint, component-min label, roots included) must match what
    // the loop itself produces when given enough rounds.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val perm = rnd.shuffle((0L until 512L).toVector)
    val chain = perm.sliding(2).map(p => (p(0), p(1))).toSeq
    val df = chain.toDF("doc_a", "doc_b")
    val (loopDf, loopRounds) = Dedup.ccFastWithRounds(df, maxIter = 40)
    assert(loopRounds > 3, s"chain too easy for the loop ($loopRounds rounds)")
    val loop = loopDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    val (fbDf, fbRounds) = Dedup.ccFastWithRounds(df, maxIter = 3)
    val fb = fbDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fb == loop,
      "fallback labels must equal the converged loop's, roots included")
    assert(fbRounds > 3, "round count must include the star rounds")
    spark.catalog.clearCache()
  }

  test("n1/n2: LSH ANN prunes candidates and keeps the exact match") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.bruteForceTopK(emb, 0L, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(brute.head == 0L) // self-similarity = 1.0 tops the list
    val lshIndex = Similarity.buildLshIndex(emb)
    val lsh = Similarity.lshTopK(lshIndex, 0L, 10).collect().map(_.getLong(0)).toSeq
    lshIndex.unpersist()
    assert(lsh.head == 0L) // query's own bucket always probed
    // recall against the exact top-10 — hyperplane LSH with 8 bits +
    // 1-bit probing: expect meaningful overlap, not perfection
    val recall = lsh.toSet.intersect(brute.toSet).size
    assert(recall >= 2, s"recall too low: $recall of 10")
  }

  test("n15: recall eval reads the nProbe dial, and probing all cells is exact") {
    val emb = Tables.embeddings(spark, sf)
    val index = Similarity.buildIvfIndex(emb, nCells = 16)
    val qs = Seq(0L, 1L, 2L, 3L)
    val partial = Similarity.annRecallEval(index, emb, qs, k = 10, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(partial.map(_._1).toSet == qs.toSet, "every probe query must surface")
    partial.foreach { case (q, hits, recall) =>
      assert(hits >= 0 && hits <= 10 && recall == hits / 10.0,
        s"query $q: inconsistent hits=$hits recall=$recall")
    }
    // the exactness limit: probing every cell makes IVF brute force, so
    // recall@k must be exactly 1.0 for every query — this pins that the
    // eval measures the PROBE loss, not an artifact of the harness
    val full = Similarity.annRecallEval(index, emb, qs, k = 10, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    index.unpersist()
    assert(full.values.forall(_ == 1.0),
      s"all-cell probe must be exact, got $full")
  }

  test("n16: kNN graph bounds out-degree, excludes self, and is exact at full probe") {
    val emb = Tables.embeddings(spark, sf)
    val index = Similarity.buildIvfIndex(emb, nCells = 16)
    val edges = Similarity.knnGraph(index, k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val n = emb.count()
    // every corpus vector is a query (no cell may swallow its members),
    // each with at most k edges, never to itself, scores sane
    assert(edges.map(_._1).distinct.length == n, "every vector must surface as a query")
    assert(edges.groupBy(_._1).values.forall(_.length <= 5))
    assert(edges.forall(e => e._1 != e._2), "self-edges are excluded")
    assert(edges.forall(e => e._3 >= -1.0001 && e._3 <= 1.0001))
    // the exactness limit: probing every cell makes the candidate set the
    // whole corpus, so the graph must equal the brute-force top-k — this
    // pins that approximation lives ONLY in the probe pruning
    val qs = Seq(0L, 7L, 123L)
    val full = Similarity.knnGraph(index, k = 5, nProbe = 16)
      .where(col("query_id").isin(qs: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force ranks the query's self-match first (cos = 1); the
    // graph excludes self, so take top-6 exact, drop self, keep 5
    val brute = Similarity.batchTopK(emb, qs, k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(e => e._1 != e._2)
      .groupBy(_._1).values.flatMap(
        _.sortBy(e => (-e._3, e._2)).take(5).map(e => (e._1, e._2))).toSet
    index.unpersist()
    assert(full == brute, s"all-cell graph must match brute force: ${full.diff(brute)} / ${brute.diff(full)}")
  }

  test("n17: mutual-kNN clustering covers every vector and co-clusters planted twins") {
    // plant near-identical twins: each (i, base+i) pair is mutually
    // top-1, shares a cell, and MUST land in one cluster
    val raw = Tables.embeddings(spark, sf)
    val base = Similarity.probeBase(raw)
    val emb = Similarity.withVecProbes(raw)
    val index = Similarity.buildIvfIndex(emb, nCells = 16)
    val labels = Similarity.mutualKnnClusters(index, k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    index.unpersist()
    assert(labels.size == emb.count(), "every vector surfaces exactly once")
    (0L until 10L).foreach { i =>
      assert(labels(i) == labels(base + i),
        s"planted twin $i split: ${labels(i)} vs ${labels(base + i)}")
    }
    // labels are canonical min-ids: every cluster label is a member of
    // its own cluster and no label exceeds its members
    labels.groupBy(_._2).foreach { case (cl, members) =>
      assert(labels(cl) == cl, s"label $cl is not its own cluster's label")
      assert(members.keys.min == cl, s"cluster $cl not labeled by min id")
    }
  }

  test("n17: production mutual-pair + resolver path equals an independent formulation") {
    // mutualKnnClusters resolves components by star contraction
    // (round cost rationale in the operator doc); this check resolves
    // the SAME mutual set with the pointer-jumping label loop — a
    // different resolver family whose labels must agree
    // label-for-label on the REAL mutual graph, so a resolver swap or
    // a star-contraction fixpoint bug can never drift silently.
    val index = Similarity.buildIvfIndex(Tables.embeddings(spark, sf))
    val edges = Similarity.knnGraph(index, k = 5, nProbe = 2)
      .select(col("query_id"), col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mutual = edges.as("f").join(edges.as("b"),
        col("f.query_id") === col("b.vec_id") &&
          col("f.vec_id") === col("b.query_id"))
      .where(col("f.query_id") < col("f.vec_id"))
      .select(col("f.query_id").as("doc_a"), col("f.vec_id").as("doc_b"))
    val viaDf = Dedup.connectedComponentsFast(mutual, maxIter = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaStar = Similarity.mutualKnnClusters(index, k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    edges.unpersist(); index.unpersist()
    // viaStar also carries singletons (cluster = own id); restrict to
    // the nodes the loop resolver saw.
    assert(viaDf.forall { case (n, c) => viaStar(n) == c },
      "star-contraction and pointer-jumping component labels disagree")
    spark.catalog.clearCache()
  }

  test("d5: embedding-cosine LSH dedup finds exactly the planted vector pairs") {
    val raw = Tables.embeddings(spark, sf)
    val vBase = Similarity.probeBase(raw)
    val index = Similarity.buildCosineIndex(Similarity.withVecProbes(raw))
    val pairs = Similarity.cosineDedupPairs(index, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    index.unpersist()
    val planted = (0L until 10L).map(i => (i, i + vBase)).toSet
    assert(pairs == planted,
      s"missing: ${planted -- pairs}; spurious: ${pairs -- planted}")
  }

  test("index artifacts release executor storage via their unpersist handles") {
    // Every build*Index returns a handle (the IvfIndex pattern) so LIBRARY
    // callers — not just the Verify/Bench harness with its per-query
    // clearCache — can free the persisted index frame. Materialize each
    // query against its index, release, and require that NOTHING remains
    // persisted (suites run sequentially in the forked test JVM, so the
    // global check cannot race another suite's caches).
    spark.catalog.clearCache()
    val docs = Dedup.withNearProbes(Tables.documents(spark, sf))
    val emb = Tables.embeddings(spark, sf)
    def assertReleased(label: String)(use: => Unit): Unit = {
      use
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$label left persisted storage behind after unpersist()")
    }
    assertReleased("MinhashIndex") {
      val ix = Dedup.buildMinhashIndex(docs)
      Dedup.minhashPairs(ix, threshold = 0.5).count()
      ix.unpersist()
    }
    assertReleased("SimhashIndex") {
      val ix = Dedup.buildSimhashIndex(docs)
      Dedup.simhashPairs(ix).count()
      ix.unpersist()
    }
    assertReleased("CosineIndex") {
      val ix = Similarity.buildCosineIndex(Similarity.withVecProbes(emb))
      Similarity.cosineDedupPairs(ix, threshold = 0.9).count()
      ix.unpersist()
    }
    assertReleased("LshIndex") {
      val ix = Similarity.buildLshIndex(emb)
      assert(Similarity.lshTopK(ix, 0L, 10).count() == 10L)
      ix.unpersist()
    }
    assertReleased("IvfIndex") {
      val ix = Similarity.buildIvfIndex(emb, nCells = 16)
      assert(Similarity.ivfTopK(ix, 0L, 10).count() == 10L)
      ix.unpersist()
    }
    assertReleased("PqIndex") {
      val ix = Similarity.buildPqIndex(emb)
      assert(Similarity.pqTopK(ix, 0L, 10).count() == 10L)
      ix.unpersist()
    }
    assertReleased("IvfPqIndex") {
      val ix = Similarity.buildIvfPqIndex(emb, nCells = 16)
      assert(Similarity.ivfPqTopK(ix, 0L, 10).count() == 10L)
      ix.unpersist()
    }
  }

  test("n9: MMR demotes the redundant near-clone that relevance-only keeps") {
    import spark.implicits._
    def v(xs: (Int, Double)*): Seq[Float] = {
      val a = Array.fill(64)(0f); xs.foreach { case (i, x) => a(i) = x.toFloat }
      a.toSeq
    }
    val emb = Seq(
      (0L, v(0 -> 1.0)),             // query
      (1L, v(0 -> 0.9, 1 -> 0.1)),   // most relevant
      (2L, v(0 -> 0.89, 1 -> 0.11)), // near-clone of 1 (sim ~0.99996)
      (3L, v(0 -> 0.6, 1 -> 0.8))    // diverse, less relevant
    ).toDF("vec_id", "embedding")
    // relevance-only ordering (mu=0 degenerates MMR to top-k by rel)
    val plain = Similarity.mmrRerank(emb, 0L, k = 2, poolN = 10,
      lambda = 1.0, mu = 0.0).collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(plain.toSeq == Seq((1, 1L), (2, 2L)))
    // diversity-weighted: the near-clone's redundancy penalty flips rank 2
    val mmr = Similarity.mmrRerank(emb, 0L, k = 2, poolN = 10,
      lambda = 0.3, mu = 0.7).collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(mmr.toSeq == Seq((1, 1L), (2, 3L)))
  }

  test("n3: IVF probes nearest cells and keeps the exact match") {
    val emb = Tables.embeddings(spark, sf)
    val index = Similarity.buildIvfIndex(emb, nCells = 16)
    val ivf = Similarity.ivfTopK(index, 0L, 10).collect().map(_.getLong(0)).toSeq
    assert(ivf.head == 0L) // the query's own cell is always probed
    val brute = Similarity.bruteForceTopK(emb, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = ivf.toSet.intersect(brute).size
    assert(recall >= 2, s"recall too low: $recall of 10")
    // One index, many queries: the query path takes the prebuilt artifact
    // (no KMeans fit in its signature), so a second query against the
    // same IvfIndex must cost no training and still self-hit.
    val ivf2 = Similarity.ivfTopK(index, 1L, 10).collect().map(_.getLong(0)).toSeq
    assert(ivf2.head == 1L)
    index.unpersist()
  }

  test("n6: PQ encodes clones identically, ranks by ADC, and self-hits") {
    val emb = Tables.embeddings(spark, sf)
    val base = Similarity.probeBase(emb)
    val index = Similarity.buildPqIndex(
      Similarity.withQueryClones(emb, queryVecId = 0L, n = 3))
    // Identical vectors must encode to identical code arrays — the
    // property n6b's reachability argument rests on.
    val codes = index.coded
      .where(col("vec_id") === 0L || col("vec_id") >= lit(base))
      .select(col("codes")).collect().map(_.getSeq[Int](0)).toSeq
    assert(codes.size == 4 && codes.distinct.size == 1,
      s"clones encoded differently: $codes")
    val pq = Similarity.pqTopK(index, 0L, 10).collect().map(_.getLong(0)).toSeq
    assert(pq.head == 0L) // exact rerank puts the self-hit first
    assert((base until base + 3L).forall(pq.contains), s"clones missing: $pq")
    // One index, many queries — no training in the query path.
    val pq2 = Similarity.pqTopK(index, 1L, 10).collect().map(_.getLong(0)).toSeq
    assert(pq2.head == 1L)
    index.unpersist()
    // Recall vs exact on the unplanted corpus: ADC over 16x-compressed
    // codes + rerank-50 keeps meaningful overlap with the true top-10.
    val index2 = Similarity.buildPqIndex(emb)
    val pq3 = Similarity.pqTopK(index2, 0L, 10).collect().map(_.getLong(0)).toSet
    // The written index round-trips losslessly: same query, same result.
    val path = graft.util.TmpRoot("pqspec") + "/pq"
    Similarity.writePqIndex(index2, path)
    val mem = Similarity.pqTopK(index2, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    index2.unpersist()
    val reloaded = Similarity.readPqIndex(spark, path)
    val disk = Similarity.pqTopK(reloaded, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    reloaded.unpersist()
    assert(mem == disk, s"written PQ index diverged: $mem vs $disk")
    val brute = Similarity.bruteForceTopK(emb, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = pq3.intersect(brute).size
    assert(recall >= 2, s"recall too low: $recall of 10")
  }

  test("d6b: pointer jumping resolves a 50-hop chain in O(log d) rounds") {
    import spark.implicits._
    // A single path 0-1-2-...-50: diameter 50. Propagation-only needs
    // ~50 rounds (connectedComponents' default maxIter=20 fails fast);
    // doubling must finish within ceil(log2(50)) + 2 = 8 rounds.
    val chain = (0L until 50L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // propagation-only moves labels 1 hop/round: a 6-round budget on a
    // 50-hop chain must trip the non-convergence fail-fast
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 6).collect()
    }
    val (labels, rounds) = Dedup.ccFastWithRounds(chain, maxIter = 12)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 50L).map(_ -> 0L).toMap)
    assert(rounds <= 8, s"pointer jumping took $rounds rounds on diameter 50")
    spark.catalog.clearCache()
  }

  test("fts: prefix search folds diacritics (unicode61 remove_diacritics)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the café résumé files"),
      (2L, "plain cafe text"),
      (3L, "unrelated words")).toDF("doc_id", "text")
    val hits = Fts.search(docs, "doc_id", Seq("text"), Seq("cafe"))
      .collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L, 2L)) // café matches the 'cafe' prefix after folding
  }

  test("fts: AND semantics require every prefix") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark window join"),
      (2L, "spark only here"),
      (3L, "window only here")).toDF("doc_id", "text")
    val hits = Fts.search(docs, "doc_id", Seq("text"), Seq("spar", "wind"))
      .collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L))
  }

  test("n18: rerank scores exactly the n7 pool and orders by the quantized score") {
    val pool = SparkEntry.queries("n7_hybrid_rrf")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val rer = SparkEntry.queries("n18_cross_rerank")(spark, sf).collect()
    assert(rer.map(_.getLong(0)).toSet === pool)
    assert(rer.length === pool.size)
    // Monotone nonincreasing in the quantized score (ties broken by id
    // inside the query; equal scores may interleave only by id).
    val scores = rer.map(_.getAs[Double]("rerank_score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("timeline densification: |rows| == days+1 and totals preserved (J4/A8)") {
    val rows = SparkEntry.queries("q_timeline")(spark, sf).collect()
    val dates = rows.map(_.getString(0))
    assert(dates.distinct.length == dates.length)
    val first = java.time.LocalDate.parse(dates.min)
    val last = java.time.LocalDate.parse(dates.max)
    assert(rows.length == java.time.temporal.ChronoUnit.DAYS.between(first, last) + 1)
    // totals preserved vs direct count of in-range candidate rows
    val total = rows.map(r => (1 to 5).map(r.getLong(_)).sum).sum
    val cands = entries.Normalize.aliasCandidates("DEP").map(_.toLowerCase)
    val expect = entries.Fixture.df(spark)
      .where(lower(col("agency")).isin(cands: _*) &&
        col("completion_date").isNotNull && col("completion_date") <= entries.Fixture.AsOf)
      .count()
    assert(total == expect)
  }

  test("d15: soft-dedup weights — every doc once, cluster mass sums to 1") {
    val rows = SparkEntry.queries("d15_soft_dedup_weights")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val n = Tables.documents(spark, sf).count()
    assert(rows.length == n && rows.map(_._1).distinct.length == n)
    rows.foreach { case (_, _, csize, w) =>
      assert(csize >= 1L && w > 0.0 && w <= 1.0)
      assert(math.abs(w - 1.0 / csize) == 0.0) // the exact division shape
    }
    // each cluster's total sampling mass is exactly one document's
    rows.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.map(_._3).distinct.length == 1, s"csize disagrees in $cl")
      assert(members.length == members.head._3, s"csize wrong for $cl")
      assert(math.abs(members.map(_._4).sum - 1.0) < 1e-9, s"mass != 1 for $cl")
    }
  }

  test("n20: vector QC flags exactly the planted zero and duplicate probes") {
    val rows = SparkEntry.queries("n20_vector_qc")(spark, sf)
      .collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val emb = Tables.embeddings(spark, sf)
    assert(rows.values.map(_._1).sum == emb.count() + 2)
    val probeLabel = emb.where(col("vec_id") === 0)
      .select("label").head().getInt(0)
    val (_, nZero, nDup, minN2) = rows(probeLabel)
    // the zeroed clone is the only zero vector, and the exact clone
    // pairs with its original
    assert(nZero == 1L && minN2 == 0L && nDup >= 2L)
    rows.filter(_._1 != probeLabel).foreach { case (l, (_, z, _, mn)) =>
      assert(z == 0L && mn > 0L, s"label $l: unexpected zero vector")
    }
  }

  test("d16: planted near-dup pairs co-cluster through the real pair graph") {
    val rows = SparkEntry.queries("d16_neardup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = Tables.documents(spark, sf).count()
    assert(rows.size == n + 10) // corpus + the 10 near probes
    for (i <- 10L until 20L)
      assert(rows(i) == rows(i + 1000000L), s"probe pair $i split across clusters")
    // singletons carry their own id — no doc silently absorbed
    val clustered = rows.filter { case (id, cl) => cl != id }
    assert(clustered.nonEmpty)
  }

  test("n22: recall curve is monotone in the probe budget") {
    val rows = SparkEntry.queries("n22_recall_curve")(spark, sf)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(rows.map(_._1) == Seq(1, 2, 4, 8))
    rows.foreach { case (_, nq, sumH, mean, minH) =>
      assert(nq == 8L && mean == sumH.toDouble / (nq * 10))
      assert(minH * nq <= sumH)
    }
    // a wider probe set is a candidate SUPERSET, and any candidate that
    // displaces an exact-top-10 member from the approx list must itself
    // be exact-top-10 (cos order is global) — so hits can only grow
    rows.sliding(2).foreach { p =>
      if (p.length == 2) {
        assert(p(0)._3 <= p(1)._3, "sum_hits dropped with more probes")
        assert(p(0)._5 <= p(1)._5, "min_hits dropped with more probes")
      }
    }
  }

  test("n21: PQ distortion is per-subspace complete and beats a 1-centroid book") {
    val rows = SparkEntry.queries("n21_pq_distortion")(spark, sf)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.map(_._1) == (0 to 7) && rows.forall(_._2 == n))
    rows.foreach { case (m, _, mean, maxQ) =>
      assert(mean >= 0.0 && mean <= maxQ.toDouble / 1e9, s"subspace $m bounds")
    }
    // 16 codebook entries must reconstruct better than collapsing each
    // subspace to its single mean — otherwise training is broken
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    def meanErr(books: Array[Array[Array[Double]]]): Double = {
      val vs = vecs.collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
      vs.map { v =>
        (0 until 8).map { m =>
          val errs = books(m).map { c =>
            (0 until 8).map(t => { val d = v(m * 8 + t) - c(t); d * d }).sum
          }
          errs.min
        }.sum
      }.sum / vs.length
    }
    val b16 = Similarity.trainPqCodebooks(vecs, nSub = 8, nCentroids = 16, iters = 5)
    val b1 = Similarity.trainPqCodebooks(vecs, nSub = 8, nCentroids = 1, iters = 5)
    assert(meanErr(b16) < meanErr(b1),
      "16-entry codebooks reconstruct no better than the subspace mean")
  }

  test("n19: every vector is classified; votes bounded by k; ties break low") {
    val rows = SparkEntry.queries("n19_knn_label_propagation")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getBoolean(4)))
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.length == n && rows.map(_._1).distinct.length == n)
    rows.foreach { case (_, t, p, votes, correct) =>
      assert(votes >= 1L && votes <= 5L)
      assert(correct == (t == p))
    }
    // the majority label must carry a plurality: no OTHER label among
    // the 5 neighbors can exceed the winner, so votes >= ceil(5/labels)
    val nLabels = Tables.embeddings(spark, sf)
      .select("label").distinct().count().toInt
    val floorVotes = (5 + nLabels - 1) / nLabels
    assert(rows.forall(_._4 >= floorVotes))
  }

  test("n3: buildIvfIndex with no nCells derives ~ sqrt(N) cells") {
    // The engine rule (SCALE.md / REHEARSAL_n16_cells.json): a caller
    // who does not pass nCells must get the scale-aware default, not
    // the fixture's pinned 16 — the pinned configuration was measured
    // at ~10x the derived one on a 10x-grown corpus.
    val emb = Tables.embeddings(spark, sf)
    val expected = math.max(2L, math.round(math.sqrt(emb.count().toDouble))).toInt
    val index = Similarity.buildIvfIndex(emb)
    val nCells = index.centroids.length
    index.unpersist()
    assert(nCells == expected,
      s"derived default should be sqrt(N)=$expected cells, got $nCells")
  }

  test("d23/d25: degenerate short texts form no blocks and no links") {
    // The length gate exists so empty/short texts can't collapse into
    // one mega-block; a batch of such texts must link to NOTHING (and
    // not crash), on both the in-memory and the stored-probe paths.
    import spark.implicits._
    val shorties = Seq((9000001L, "a b"), (9000002L, ""), (9000003L, "!!!???"))
      .toDF("doc_id", "text")
    assert(Dedup.recordLinkage(Dedup.linkageKeys(shorties), maxDist = 20).isEmpty,
      "short texts produced linkage keys")
    val path = util.TmpRoot("linkshort") + "/linkage"
    Dedup.writeLinkageIndex(Tables.documents(spark, sf), path)
    val stored = Dedup.readLinkageIndex(spark, path)
    assert(Dedup.linkAgainstIndex(stored, shorties, maxDist = 20).isEmpty,
      "short-text batch produced links against the stored index")
    spark.catalog.clearCache()
  }

  test("d25: the stored-probe path caps hot blocks too, and reports them") {
    // A batch doc whose prefix lands in a stored block PAST the cap
    // must link to nothing (skip + audit), not fan out quadratically;
    // with a generous cap the same probe links. Both paths share
    // cappedBlocks, so this pins the stored side of the guard.
    import spark.implicits._
    val path = util.TmpRoot("linkhot") + "/linkage"
    Dedup.writeLinkageIndex(
      Dedup.withHotBlock(Tables.documents(spark, sf)), path)
    val stored = Dedup.readLinkageIndex(spark, path)
    val batch = Seq((9500001L, "hot template block prefix shared probe row"))
      .toDF("doc_id", "text")
    assert(Dedup.linkAgainstIndex(stored, batch, maxDist = 20, maxBlock = 32)
      .isEmpty, "capped probe linked into an oversized stored block")
    spark.catalog.clearCache()
    assert(!Dedup.linkAgainstIndex(stored, batch, maxDist = 20, maxBlock = 100000)
      .isEmpty, "uncapped probe should link (fixture sanity)")
    val audit = Dedup.linkageBlockOverflow(
      Dedup.linkageKeys(Dedup.withHotBlock(Tables.documents(spark, sf))),
      maxBlock = 32).collect()
    assert(audit.length == 1 && audit(0).getAs[Long]("block_n") > 32,
      s"expected exactly the planted hot block in the audit: ${audit.toSeq}")
    spark.catalog.clearCache()
  }

  test("d20/d22: one boilerplate sentence in 20% of docs dedups to one owner") {
    // The hot-gram fixture (round-13 verdict): duplicated boilerplate
    // is the gram-ownership stage's own target, so the formulation must
    // survive a key whose occurrence count scales with the corpus. 20%
    // of docs share an identical 12-token header; keep-first ownership
    // must cut it from every carrier except the smallest-id one, and
    // attribution must name that owner for ALL cut spans.
    val docs = Tables.documents(spark, sf)
    val header = "common boilerplate header sentence repeated across many documents of this corpus"
    // Carrier tails are UNIQUE tokens (not the base doc's text) so the
    // header island cannot fuse with a carrier-vs-base text span.
    val planted = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 7000000L).as("doc_id"),
          concat(lit(header + " uq"), col("doc_id").cast("string")).as("text")))
    val carriers = planted.where(col("doc_id") >= 7000000L)
    val nCarriers = carriers.count()
    val minCarrier = carriers.agg(min("doc_id")).head().getLong(0)
    val spans = Dedup.dupSpansAttributed(planted, minLen = 10)
      .where(col("doc_id") >= 7000000L && col("span_start") === 1L)
      .collect()
    assert(spans.length == nCarriers - 1,
      s"expected ${nCarriers - 1} header spans, got ${spans.length}")
    assert(spans.forall(_.getAs[Long]("src_doc") == minCarrier),
      "attribution must name the smallest-id carrier as the owner")
    assert(!spans.exists(_.getAs[Long]("doc_id") == minCarrier),
      "the owner itself must keep its header")
  }

  test("n36: residual PQ reconstructs strictly better than raw PQ") {
    // The point of the residual transform: same code budget, lower
    // error. If this ever flips, the residual path is mis-deriving
    // (e.g. subtracting the wrong centroid) even if both chains are
    // internally consistent with their oracles.
    val rows = SparkEntry.queries("n36_residual_pq")(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(3)))
    val raw = rows.filter(_._1 == "raw").map(_._2).sum
    val res = rows.filter(_._1 == "residual").map(_._2).sum
    spark.catalog.clearCache()
    assert(rows.length == 16, s"expected 2 schemes x 8 subspaces, got ${rows.length}")
    assert(res < raw,
      f"residual MSE $res%.4f should beat raw MSE $raw%.4f")
  }

  test("d28: a planted cross-source clone shows up as exactly one flow cell") {
    // Syndication fixture: one new doc in a FRESH source carrying doc
    // 0's text verbatim. The flow matrix must report the planted
    // (src-of-doc-0 -> plantsrc) cell with exactly one receiving doc,
    // and the matrix total must tie out to the attributed span frame
    // it rolls up (no span lost or double-counted by the two joins).
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    val src0 = docs.where(col("doc_id") === 0).head().getString(2)
    val planted = docs.unionByName(docs.where(col("doc_id") === 0)
      .select(lit(8000000L).as("doc_id"), col("text"),
        lit("plantsrc").as("source")))
    val matrix = Dedup.dupFlowMatrix(planted, minLen = 10).collect()
    val cell = matrix.filter(r => r.getString(0) == src0 &&
      r.getString(1) == "plantsrc")
    assert(cell.length == 1, s"expected one ($src0 -> plantsrc) cell")
    assert(cell.head.getAs[Long]("n_docs") == 1L)
    assert(cell.head.getAs[Long]("n_spans") >= 1L)
    // tie-out: rollup conserves the span frame's mass
    val spans = Dedup.dupSpansAttributed(
      planted.select(col("doc_id"), col("text")), minLen = 10)
    assert(matrix.map(_.getAs[Long]("n_spans")).sum == spans.count())
    assert(matrix.map(_.getAs[Long]("dup_tokens")).sum ==
      spans.agg(sum("span_tokens")).head().getLong(0))
  }

  test("d31: blocking-recall eval is internally consistent and sees the plants") {
    val rows = SparkEntry.queries("d31_annblock_recall_eval")(spark, sf)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).sortBy(_._1)
    spark.catalog.clearCache()
    assert(rows.length == 4)
    // one candidate set serves every threshold row
    assert(rows.map(_._2).distinct.length == 1 && rows.head._2 > 0)
    // found is truth retained by the blocking; ratios are proper
    rows.foreach { case (_, nCand, nTrue, nFound, recall, prec) =>
      assert(nFound <= nTrue && nFound <= nCand)
      assert(recall >= 0.0 && recall <= 1.0 && prec >= 0.0 && prec <= 1.0)
    }
    // at 0.9 the truth is exactly the 10 planted probe pairs
    assert(rows.last._3 == 10L)
    // truth mass shrinks as the threshold rises
    assert(rows.map(_._3).reverse.sorted.sameElements(rows.map(_._3).reverse))
  }

  test("d28b: incoming duplicated shares are proper fractions, additive per source") {
    val rows = SparkEntry.queries("d28b_dup_flow_share")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val share = r.getAs[Double]("share")
      assert(share > 0.0 && share <= 1.0, s"share out of range: $r")
    }
    // spans are disjoint per doc, so a source's TOTAL incoming share
    // (sum over src sources) can never exceed 1
    rows.groupBy(_.getAs[String]("dst_source")).foreach { case (dst, rs) =>
      val tot = rs.map(_.getAs[Double]("share")).sum
      assert(tot <= 1.0 + 1e-9, s"$dst incoming share total $tot > 1")
    }
  }

  test("n39/t59: mixture plans never overshoot their budgets") {
    // (The t59 half of this case went with the text-analysis queries.)
    val n39 = SparkEntry.queries("n39_cluster_mixture")(spark, sf).collect()
    spark.catalog.clearCache()
    assert(n39.nonEmpty)
    assert(n39.map(_.getAs[Long]("target_vec")).sum <= 10000L)
    assert(n39.forall(r => r.getAs[Long]("planned_vec") <= r.getAs[Long]("n_vec")))
    // the plan covers the whole corpus: cell counts sum to the vector count
    assert(n39.map(_.getAs[Long]("n_vec")).sum ==
      Tables.embeddings(spark, sf).count())
  }

  test("n40: applied sample is a deterministic subset honoring the plan") {
    val kept = SparkEntry.queries("n40_cluster_sample_apply")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val plan = SparkEntry.queries("n39_cluster_mixture")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_vec"),
        r.getAs[Long]("target_vec"))).toMap
    spark.catalog.clearCache()
    assert(kept.nonEmpty && kept.map(_._1).distinct.length == kept.length)
    val byCell = kept.groupBy(_._2).map { case (c, rs) => c -> rs.length.toLong }
    byCell.foreach { case (cell, n) =>
      val (nVec, target) = plan(cell)
      assert(n <= nVec, s"cell $cell kept $n of $nVec")
      // a cell whose target covers its occupancy keeps EVERYTHING
      if (target >= nVec) assert(n == nVec,
        s"cell $cell: target $target >= occupancy $nVec but kept only $n")
    }
  }

  test("d32: batch flow ties out to the attributed against-index spans") {
    val docs = Tables.documents(spark, sf)
    val root = util.TmpRoot("d32-spec") + "/grams"
    Dedup.writeGramIndex(docs, minLen = 10, root)
    val stored = Dedup.readGramIndex(spark, root)
    val spans = Dedup.dupSpansAgainstIndexAttributed(stored,
      Dedup.spanBatchOf(docs)).collect()
    spark.catalog.clearCache()
    assert(spans.nonEmpty)
    // attribution names a real corpus doc; every probe's span starts at
    // its copied prefix (position 1) like the unattributed path
    val corpusIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(spans.forall(r => corpusIds.contains(r.getAs[Long]("src_doc"))))
    // the flow rollup conserves the span mass
    val flow = SparkEntry.queries("d32_batch_flow")(spark, sf).collect()
    spark.catalog.clearCache()
    assert(flow.map(_.getAs[Long]("n_spans")).sum == spans.length)
    assert(flow.map(_.getAs[Long]("dup_tokens")).sum ==
      spans.map(_.getAs[Long]("span_tokens")).sum)
  }

  test("d30: sub-blocking recovers the true pairs the block cap alone skips") {
    val docs = Tables.documents(spark, sf)
    val keys = Dedup.linkageKeys(Dedup.withHotBlockPairs(docs))
    val capped = Dedup.recordLinkage(keys, maxDist = 20, maxBlock = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sub = Dedup.recordLinkage(Dedup.subBlockedKeys(keys, maxBlock = 32),
        maxDist = 20, maxBlock = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    val twins = docs.where(col("doc_id") % 20 === 0).select("doc_id")
      .collect().map(_.getLong(0)).map(i => (i + 5000000L, i + 6000000L)).toSet
    assert(twins.nonEmpty)
    assert((capped & twins).isEmpty,
      "cap-only linkage must skip the hot block entirely")
    assert(twins.subsetOf(sub),
      s"sub-blocking must recover the planted twins, missing: ${twins -- sub}")
    // refinement touches ONLY oversized blocks: natural links identical
    assert(capped.filter(_._1 < 5000000L) == sub.filter(_._1 < 5000000L))
  }

  test("d29: ANN-blocked dedup finds exactly the co-located planted clones") {
    val emb = Similarity.withVecProbes(Tables.embeddings(spark, sf))
    val index = Similarity.buildIvfIndex(emb)
    val cellOf = index.assigned.select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pairs = Similarity.annBlockedDedupPairs(index, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    index.unpersist()
    // planted probes sit ~1e-4 from their base vector; each pair must
    // be reported IFF the blocking co-located it (the documented
    // recall tradeoff), and nothing natural reaches 0.9
    val planted = (0L until 10L).map(i =>
      (i, i + Similarity.probeBase(Tables.embeddings(spark, sf))))
    val coLocated = planted.filter(p => cellOf(p._1) == cellOf(p._2)).toSet
    assert(coLocated.nonEmpty, "fixture broke: no probe shares its base's cell")
    assert(pairs == coLocated,
      s"expected exactly the co-located planted pairs; diff: ${
        (pairs -- coLocated) ++ (coLocated -- pairs)}")
  }

  test("d29b: two probes widen single-probe candidacy and find every plant") {
    val emb = Similarity.withVecProbes(Tables.embeddings(spark, sf))
    val index = Similarity.buildIvfIndex(emb)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = pairSet(Similarity.annBlockedDedupPairs(index, threshold = 0.9))
    val two = pairSet(Similarity.multiProbeDedupPairs(index, threshold = 0.9,
      probes = 2))
    index.unpersist()
    // sharing the primary cell implies sharing one of the top-2 cells
    assert(one.subsetOf(two), s"multi-probe lost pairs: ${one -- two}")
    // with 2 probes, every planted clone pair must surface: the probe
    // sits ~1e-4 from its base, so their top-2 cell SETS intersect
    val planted = (0L until 10L).map(i =>
      (i, i + Similarity.probeBase(Tables.embeddings(spark, sf)))).toSet
    assert(planted.subsetOf(two),
      s"missing planted pairs at 2 probes: ${planted -- two}")
  }

  test("d34: prefix-filtered join equals brute force, keeps the exact-threshold pair, drops below") {
    import spark.implicits._
    // Hand-built corpus with known distinct-trigram sets:
    //   10 vs 11: {abc,bcd,cde,def} vs {abc,bcd,cde,deg} -> 3/5 = 0.6
    //             EXACTLY (the integer predicate is >=, so it stays)
    //   10 vs 12: share only {abc} -> 1/7, dropped
    //   11 vs 13: clone -> 1.0, kept
    val docs = Seq(
      (10L, "a b c d e f"), (11L, "a b c d e g"), (12L, "a b c x y z"),
      (13L, "a b c d e g"), (14L, "zz yy xx ww vv uu"), (15L, "  ")
    ).toDF("doc_id", "text")
    val got = Dedup.prefixJaccardJoin(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((10L, 11L, 0.6), (10L, 13L, 0.6), (11L, 13L, 1.0)),
      s"unexpected pair set: $got")
    spark.catalog.clearCache()
    // Against the real corpus: equality with an in-test brute-force
    // O(n²) join over a slice — the prefix filter must be LOSSLESS
    // (every theorem-pruned candidate really was below threshold).
    val slice = Tables.documents(spark, sf).where(col("doc_id") < 120)
    val toks = slice
      .where(length(Dedup.normText(col("text"))) > 0)
      .select(col("doc_id"),
        graft.plans.NativeFunctions.wordKGrams(Dedup.normText(col("text")),
          Dedup.PrefixJaccardGram).as("tk"))
    val li = size(array_intersect(col("ta"), col("tb"))).cast("long")
    val lu = size(col("ta")).cast("long") + size(col("tb")).cast("long") - li
    val brute = toks.select(col("doc_id").as("doc_a"), col("tk").as("ta"))
      .join(toks.select(col("doc_id").as("doc_b"), col("tk").as("tb")),
        col("doc_a") < col("doc_b"))
      .where(li * Dedup.PrefixJaccardDen >= lu * Dedup.PrefixJaccardNum)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = Dedup.prefixJaccardJoin(slice).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == brute,
      s"prefix join != brute force: missing=${brute -- pruned} extra=${pruned -- brute}")
  }

  test("n42 guard: the margin miner auto-switches to LSH candidates past the grid cap") {
    val emb = Tables.embeddings(spark, sf)
    val l0 = col("label") === 0; val l1 = col("label") === 1
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSet
    // Past the cap the miner must BE the banded-LSH path — same rows,
    // same scores, not merely "some approximation" (the swap changes
    // which pairs are candidates, never how they are scored).
    val switched = rows(Similarity.marginMinePairsScored(
      emb, l0, l1, maxGridPairs = 1L))
    val lsh = rows(Similarity.marginMineLshScored(emb, l0, l1))
    assert(switched == lsh, "guard switch is not the LSH path: " +
      s"extra=${switched -- lsh} missing=${lsh -- switched}")
    // Under the default cap this corpus keeps the exhaustive grid (the
    // n13/n42 gate semantics are unchanged by the guard's existence).
    val default = rows(Similarity.marginMinePairsScored(emb, l0, l1))
    val grid = rows(Similarity.marginMinePairsScored(
      emb, l0, l1, maxGridPairs = Long.MaxValue))
    assert(default == grid, "default cap tripped on the gate corpus")
    // The decision arithmetic is overflow-safe: 4e9 x 4e9 wraps a Long
    // multiply negative (would pass a product-based guard), but must
    // still read as exceeding even a MaxValue cap.
    assert(Similarity.gridExceedsCap(4000000000L, 4000000000L, Long.MaxValue))
    assert(!Similarity.gridExceedsCap(3000000000L, 3000000000L, Long.MaxValue))
    assert(Similarity.gridExceedsCap(4L, 3L, 10L))   // 12 > 10: switch
    assert(!Similarity.gridExceedsCap(3L, 3L, 9L))   // 9 = 9: grid stays
    assert(!Similarity.gridExceedsCap(5L, 0L, 1L))   // empty side: no grid to guard
  }
}
