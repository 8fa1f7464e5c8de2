package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

/** Structured Streaming behavior: every incremental index maintainer
  * must converge to its batch twin. */
class StreamingSpec extends AnyFunSuite with SparkSuite {

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  test("index compaction: incremental batches collapse to the direct serving index") {
    import graft.operators.Dedup
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_cmp_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_cmp_src")
    val index = tmp("graft_cmp_root") + "/idx"
    val pairsDir = tmp("graft_cmp_root2") + "/pairs"
    val ckpt = tmp("graft_cmp_ckpt")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // batch 1: base corpus; batch 2: docs 0-4 re-arrive REVISED — the
    // compactor must keep only the latest revision per doc (LWW).
    val revised = docs.where(col("doc_id") < 5)
      .select(col("doc_id"), concat(col("text"), lit(" updated rev2")).as("text"))
    addChunk(src, docs, "chunk1.parquet")
    Streams.incrementalMinhashIndex(spark, src, index, pairsDir, ckpt)
    addChunk(src, revised, "chunk2.parquet")
    Streams.incrementalMinhashIndex(spark, src, index, pairsDir, ckpt)
    val out = tmp("graft_cmp_out") + "/serving"
    Dedup.compactMinhashIndex(spark, index, out)
    // reference: the serving index built DIRECTLY from the final corpus
    val finalCorpus = docs.where(col("doc_id") >= 5).unionByName(revised)
    val direct = Dedup.buildMinhashIndex(finalCorpus)
    val out2 = tmp("graft_cmp_out2") + "/serving"
    Dedup.writeMinhashIndex(direct, out2)
    direct.unpersist()
    def sigSet(path: String) = spark.read.parquet(s"$path/sigs")
      .select(col("doc_id"), col("sh")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).mkString("|"))).toSet
    def bandSet(path: String) = spark.read.parquet(s"$path/banded")
      .select(col("doc_id"), col("band"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(sigSet(out) == sigSet(out2),
      "compacted signature table differs from the direct build")
    assert(bandSet(out) == bandSet(out2),
      "compacted banded table differs from the direct build")
  }

  test("incremental LSH index maintenance converges to the batch pair set (d2 twin)") {
    import graft.operators.Dedup
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_lsh_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_lsh_src")
    val index = tmp("graft_lsh_root") + "/idx"
    val pairsDir = tmp("graft_lsh_root2") + "/pairs"
    val ckpt = tmp("graft_lsh_ckpt")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // chunk 1: the base corpus; chunk 2: near-probes of docs 10-19 arrive
    // later — the cross-batch duplicates only an incremental index can
    // find without rescanning the corpus.
    addChunk(src, docs, "chunk1.parquet")
    Streams.incrementalMinhashIndex(spark, src, index, pairsDir, ckpt)
    val probes = docs.where(col("doc_id") >= 10 && col("doc_id") < 20)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zz0 zz1 zz2")).as("text"))
    addChunk(src, probes, "chunk2.parquet")
    Streams.incrementalMinhashIndex(spark, src, index, pairsDir, ckpt)
    val incremental = spark.read.parquet(pairsDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchIndex = Dedup.buildMinhashIndex(Dedup.withNearProbes(docs))
    val batch = Dedup.minhashPairs(batchIndex, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    batchIndex.unpersist()
    val planted = (10L until 20L).map(i => (i, i + 1000000L)).toSet
    assert(planted.subsetOf(incremental),
      s"missing planted cross-batch pairs: ${planted -- incremental}")
    // every pair the batch algorithm finds, exactly once, no spurious
    assert(incremental == batch,
      s"incremental != batch: extra=${incremental -- batch} missing=${batch -- incremental}")
    assert(spark.read.parquet(pairsDir).count() == incremental.size,
      "pairs emitted more than once across batches")
  }

  test("incremental SimHash index converges to the batch pair set and serving store (d3/m5 twin)") {
    import graft.operators.Dedup
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_sim_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_sim_src")
    val index = tmp("graft_sim_root") + "/idx"
    val pairsDir = tmp("graft_sim_root2") + "/pairs"
    val ckpt = tmp("graft_sim_ckpt")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // chunk 1: the base corpus; chunk 2: exact clones of docs 0-9 arrive
    // later (hamming 0 — the planted cross-batch fingerprint matches only
    // an incremental index can find without rescanning the corpus).
    addChunk(src, docs, "chunk1.parquet")
    Streams.incrementalSimhashIndex(spark, src, index, pairsDir, ckpt)
    val probes = docs.where(col("doc_id") < 10)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    addChunk(src, probes, "chunk2.parquet")
    Streams.incrementalSimhashIndex(spark, src, index, pairsDir, ckpt)
    val incremental = spark.read.parquet(pairsDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: the batch pair join over the SAME final corpus
    val batchIndex = Dedup.buildSimhashIndex(Dedup.withExactProbes(docs))
    val batch = Dedup.simhashPairs(batchIndex)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    batchIndex.unpersist()
    val planted = (0L until 10L).map(i => (i, i + 1000000L)).toSet
    assert(planted.subsetOf(incremental),
      s"missing planted cross-batch pairs: ${planted -- incremental}")
    assert(incremental == batch,
      "incremental SimHash pair set diverges from the batch algorithm")

    // compaction: the streamed store collapses to the serving layout the
    // direct batch build writes — byte-equivalent fingerprints and bands
    val out = tmp("graft_sim_cmp") + "/serving"
    Dedup.compactSimhashIndex(spark, index, out)
    val direct = Dedup.buildSimhashIndex(Dedup.withExactProbes(docs))
    val out2 = tmp("graft_sim_cmp2") + "/serving"
    Dedup.writeSimhashIndex(direct, out2)
    direct.unpersist()
    def simSet(path: String) = spark.read.parquet(s"$path/sims")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def bandSet(path: String) = spark.read.parquet(s"$path/banded")
      .select(col("doc_id"), col("band"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(simSet(out) == simSet(out2),
      "compacted fingerprint table differs from the direct build")
    assert(bandSet(out) == bandSet(out2),
      "compacted banded table differs from the direct build")

    // tombstoned ids stay out of the compacted serving store even though
    // the incremental dirs still carry them (lifecycle parity with the
    // MinHash/FTS/IVF compactors)
    import spark.implicits._
    val tomb = tmp("graft_sim_tomb") + "/t"
    graft.operators.Governance.recordTombstones(spark, tomb,
      Seq(3L, 1000003L).toDF("purge_id"))
    val out3 = tmp("graft_sim_cmp3") + "/serving"
    Dedup.compactSimhashIndex(spark, index, out3, tombstonePath = Some(tomb))
    assert(spark.read.parquet(s"$out3/sims")
      .where(col("doc_id").isin(3L, 1000003L)).count() == 0,
      "tombstoned fingerprints survived SimHash compaction")
  }

  test("incremental vector LSH index converges to the batch pair set (d5 twin)") {
    import graft.operators.Similarity
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_vec_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_vec_src")
    val index = tmp("graft_vec_root") + "/idx"
    val pairsDir = tmp("graft_vec_root2") + "/pairs"
    val ckpt = tmp("graft_vec_ckpt")
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    // chunk 1: the base corpus; chunk 2: the nudged near-probes of
    // vec_ids 0-9 arrive later — cross-batch near-duplicates only an
    // incremental index finds without rescanning the corpus.
    addChunk(src, vecs, "chunk1.parquet")
    Streams.incrementalVectorIndex(spark, src, index, pairsDir, ckpt)
    val vBase = Similarity.probeBase(vecs)
    addChunk(src, Similarity.withVecProbes(vecs)
      .where(col("vec_id") >= lit(vBase)), "chunk2.parquet")
    Streams.incrementalVectorIndex(spark, src, index, pairsDir, ckpt)
    val incremental = spark.read.parquet(pairsDir)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchIndex = Similarity.buildCosineIndex(Similarity.withVecProbes(vecs))
    val batch = Similarity.cosineDedupPairs(batchIndex, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    batchIndex.unpersist()
    val planted = (0L until 10L).map(i => (i, i + vBase)).toSet
    assert(planted.subsetOf(incremental),
      s"missing planted cross-batch pairs: ${planted -- incremental}")
    assert(incremental == batch,
      s"incremental != batch: extra=${incremental -- batch} missing=${batch -- incremental}")
    assert(spark.read.parquet(pairsDir).count() == incremental.size,
      "pairs emitted more than once across batches")
  }

  test("streaming IVF assignment: frozen-model appends serve like the batch assignment") {
    import graft.operators.Similarity
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_ivfs_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val base = vecs.where(col("vec_id") < 400)
    val root = tmp("graft_ivfs_root")
    val idxPath = s"$root/ivf"; val src = tmp("graft_ivfs_src")
    val appends = s"$root/appends"; val ckpt = tmp("graft_ivfs_ckpt")
    // nightly build on the base corpus, model frozen on disk
    val built = Similarity.buildIvfIndex(base, nCells = 16)
    Similarity.writeIvfIndex(built, idxPath)
    built.unpersist()
    // two later micro-batches of new vectors stream through the assigner
    addChunk(src, vecs.where(col("vec_id") >= 400 && col("vec_id") < 450), "c1.parquet")
    Streams.incrementalIvfAssign(spark, src, idxPath, appends, ckpt)
    addChunk(src, vecs.where(col("vec_id") >= 450), "c2.parquet")
    Streams.incrementalIvfAssign(spark, src, idxPath, appends, ckpt)
    // 1. streamed assignments equal the batch frozen-model assignment
    val cents = Similarity.readIvfCentroids(spark, idxPath)
    def cellSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    val streamed = cellSet(spark.read.parquet(appends))
    val direct = cellSet(Similarity.assignCells(cents, vecs.where(col("vec_id") >= 400)))
    assert(streamed == direct, "streamed cell assignment != batch frozen-model assignment")
    // 2. the combined store (base ∪ appends) serves identically to a
    // frozen-model assignment of the FULL corpus
    val stored = Similarity.readIvfIndex(spark, idxPath)
    val combined = Similarity.IvfIndex(cents,
      stored.assigned.select("vec_id", "embedding", "cell")
        .unionByName(spark.read.parquet(appends).select("vec_id", "embedding", "cell")))
    val full = Similarity.IvfIndex(cents, Similarity.assignCells(cents, vecs))
    def top(ix: Similarity.IvfIndex) =
      Similarity.ivfTopK(ix, queryVecId = 0L, k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top(combined) == top(full),
      "combined base+append store answers differently from the full assignment")

    // 3. compaction closes the lifecycle: a REVISED re-delivery of vec 450
    // in a third batch must shadow the batch-2 revision; base rows keep;
    // the compacted index answers exactly like a fresh frozen-model
    // assignment of the final corpus
    val revised = vecs.where(col("vec_id") === 450)
      .select(col("vec_id"), transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(0.5f)).otherwise(x)).as("embedding"))
    addChunk(src, revised, "c3.parquet")
    Streams.incrementalIvfAssign(spark, src, idxPath, appends, ckpt)
    val compacted = s"$root/compacted"
    Similarity.compactIvfAppendStore(spark, idxPath, appends, compacted)
    val finalCorpus = vecs.where(col("vec_id") =!= 450).unionByName(revised)
    val cIx = Similarity.readIvfIndex(spark, compacted)
    val fIx = Similarity.IvfIndex(cents, Similarity.assignCells(cents, finalCorpus))
    assert(cIx.assigned.count() == finalCorpus.count(),
      "compacted store row count != final corpus")
    assert(top(cIx) == top(fIx),
      "compacted index answers differently from the final-corpus assignment")
  }

  test("streaming maxsim token store: in-stream token derivation + frozen-model appends compact to the batch store") {
    import graft.operators.Similarity
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      new java.io.File(dir).mkdirs()
      val stage = tmp("graft_mxs_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val root = tmp("graft_mxs_root")
    val base = s"$root/base"; val appends = s"$root/appends"
    val src = tmp("graft_mxs_src"); val ckpt = tmp("graft_mxs_ckpt")
    // nightly token model on the full corpus; base store holds only the
    // first 400 documents' token assignments
    val toks = Similarity.maxsimTokens(emb)
      .select(col("token_id").as("vec_id"), col("tv").as("embedding"))
    val built = Similarity.buildIvfIndex(toks, nCells = 16)
    Similarity.writeIvfIndex(Similarity.IvfIndex(built.centroids,
      built.assigned.where(expr("vec_id div 4") < 400)), base)
    built.unpersist()
    // two later micro-batches of DOCUMENTS (not tokens — the stream
    // derives the token set itself; doc 420 re-delivered in batch 2)
    addChunk(src, emb.where(col("vec_id") >= 400 && col("vec_id") < 450), "c1.parquet")
    Streams.incrementalMaxsimTokenStore(spark, src, base, appends, ckpt)
    addChunk(src, emb.where(col("vec_id") >= 450 || col("vec_id") === 420), "c2.parquet")
    Streams.incrementalMaxsimTokenStore(spark, src, base, appends, ckpt)
    // 1. the streamed rows ARE the frozen-model assignment of the
    // derived tokens (shared maxsimTokens + assignCells — pin it)
    val cents = Similarity.readIvfCentroids(spark, base)
    def cellSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    val streamed = cellSet(spark.read.parquet(appends))
    val direct = cellSet(Similarity.assignCells(cents,
      Similarity.maxsimTokens(emb.where(col("vec_id") >= 400))
        .select(col("token_id").as("vec_id"), col("tv").as("embedding"))))
    assert(streamed == direct,
      "streamed token assignment != batch frozen-model assignment of the derived tokens")
    // 2. compaction (LWW over the re-delivered doc's token ids) serves
    // the n41b probe path row-identically to the one-shot batch store
    val compacted = s"$root/compacted"
    Similarity.compactIvfAppendStore(spark, base, appends, compacted)
    assert(spark.read.parquet(s"$compacted/assigned").count() == toks.count(),
      "compacted token store row count != full token corpus")
    val full = s"$root/full"
    val builtFull = Similarity.buildIvfIndex(toks, nCells = 16)
    Similarity.writeIvfIndex(builtFull, full)
    builtFull.unpersist()
    val qids = Seq(0L, 1L, 2L, 3L)
    def served(path: String) =
      Similarity.maxsimRerankServed(spark, path, Tables.embeddings(spark, sf), qids, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served(compacted) == served(full),
      "incremental token store answers differently from the batch store")
  }

  test("streaming PQ encode: frozen-codebook appends serve like the batch encode; compaction is LWW + tombstone-aware") {
    import graft.operators.{Governance, Similarity}
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_pqs_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val base = vecs.where(col("vec_id") < 400)
    val root = tmp("graft_pqs_root")
    val idxPath = s"$root/pq"; val src = tmp("graft_pqs_src")
    val appends = s"$root/appends"; val ckpt = tmp("graft_pqs_ckpt")
    // nightly build on the base corpus, model frozen on disk
    val built = Similarity.buildPqIndex(base)
    Similarity.writePqIndex(built, idxPath)
    built.unpersist()
    // two later micro-batches of new vectors stream through the encoder
    addChunk(src, vecs.where(col("vec_id") >= 400 && col("vec_id") < 450), "c1.parquet")
    Streams.incrementalPqEncode(spark, src, idxPath, appends, ckpt)
    addChunk(src, vecs.where(col("vec_id") >= 450), "c2.parquet")
    Streams.incrementalPqEncode(spark, src, idxPath, appends, ckpt)
    // 1. streamed codes equal the batch frozen-codebook encode — the two
    // paths share pqEncode, so any drift here is a broken contract
    val books = Similarity.readPqCodebooks(spark, idxPath)
    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("codes")).collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSet
    val streamed = codeSet(spark.read.parquet(appends))
    val direct = codeSet(Similarity.pqEncode(books, vecs.where(col("vec_id") >= 400)))
    assert(streamed == direct, "streamed PQ codes != batch frozen-codebook encode")
    // 2. the combined store (base ∪ appends) serves ADC top-k identically
    // to a frozen-codebook encode of the FULL corpus
    val stored = Similarity.readPqIndex(spark, idxPath)
    def top(ix: Similarity.PqIndex) =
      Similarity.pqTopK(ix, queryVecId = 0L, k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val combined = Similarity.PqIndex(books,
      stored.coded.select("vec_id", "embedding", "codes")
        .unionByName(spark.read.parquet(appends)
          .select("vec_id", "embedding", "codes")))
    val full = Similarity.PqIndex(books, Similarity.pqEncode(books, vecs))
    assert(top(combined) == top(full),
      "combined base+append store answers differently from the full encode")
    // 3. compaction closes the lifecycle: a REVISED re-delivery of vec 450
    // must shadow the batch-2 codes (LWW by batch_id), and the compacted
    // store must answer like a fresh frozen-codebook encode of the final
    // corpus
    val revised = vecs.where(col("vec_id") === 450)
      .select(col("vec_id"), transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(0.5f)).otherwise(x)).as("embedding"))
    addChunk(src, revised, "c3.parquet")
    Streams.incrementalPqEncode(spark, src, idxPath, appends, ckpt)
    val compacted = s"$root/compacted"
    Similarity.compactPqAppendStore(spark, idxPath, appends, compacted)
    val finalCorpus = vecs.where(col("vec_id") =!= 450).unionByName(revised)
    val cIx = Similarity.readPqIndex(spark, compacted)
    assert(cIx.coded.count() == finalCorpus.count(),
      "compacted store row count != final corpus")
    assert(codeSet(cIx.coded) == codeSet(Similarity.pqEncode(books, finalCorpus)),
      "compacted codes != frozen-codebook encode of the final corpus")
    assert(top(cIx) == top(Similarity.PqIndex(books,
        Similarity.pqEncode(books, finalCorpus))),
      "compacted index answers differently from the final-corpus encode")
    // 4. a takedown recorded between appends holds through compaction:
    // the tombstoned id vanishes (base-resident AND re-delivered ids
    // alike) while every other row survives
    Governance.recordTombstones(spark, s"$root/tomb",
      spark.range(1).select(lit(450L).as("purge_id"))
        .unionByName(spark.range(1).select(lit(7L).as("purge_id"))))
    val purged = s"$root/compacted_purged"
    Similarity.compactPqAppendStore(spark, idxPath, appends, purged,
      tombstonePath = Some(s"$root/tomb"))
    val pIx = Similarity.readPqIndex(spark, purged)
    assert(pIx.coded.where(col("vec_id").isin(450L, 7L)).count() == 0,
      "tombstoned ids survived PQ compaction")
    assert(pIx.coded.count() == finalCorpus.count() - 2,
      "non-tombstoned rows lost in purged PQ compaction")
    pIx.unpersist(); cIx.unpersist(); stored.unpersist()
  }

  test("vector index compaction: re-delivered vec_ids resolve LWW to the latest revision") {
    import graft.operators.Similarity
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_vcp_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_vcp_src")
    val index = tmp("graft_vcp_root") + "/idx"
    val pairsDir = tmp("graft_vcp_root2") + "/pairs"
    val ckpt = tmp("graft_vcp_ckpt")
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    // batch 1: base corpus; batch 2: vec_ids 0-4 re-arrive REVISED (first
    // component nudged) — the compactor must keep only the latest vector.
    val revised = vecs.where(col("vec_id") < 5)
      .select(col("vec_id"), transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(0.5f)).otherwise(x)).as("embedding"))
    addChunk(src, vecs, "chunk1.parquet")
    Streams.incrementalVectorIndex(spark, src, index, pairsDir, ckpt)
    addChunk(src, revised, "chunk2.parquet")
    Streams.incrementalVectorIndex(spark, src, index, pairsDir, ckpt)
    val out = tmp("graft_vcp_out") + "/serving"
    Similarity.compactVectorIndex(spark, index, out)
    // reference: the quantized frame built DIRECTLY from the final corpus
    val finalCorpus = vecs.where(col("vec_id") >= 5).unionByName(revised)
    val direct = Similarity.buildCosineIndex(finalCorpus)
    def vSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).mkString("|"))).toSet
    val compacted = vSet(spark.read.parquet(out))
    val expected = vSet(direct.q)
    direct.unpersist()
    assert(compacted == expected,
      "compacted vector index differs from the direct quantized frame")
  }

  test("incremental FTS term index equals the batch rebuild, with LWW shadowing (s6 twin)") {
    import graft.operators.Fts
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_fts_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_ftsincr_src")
    val idx = tmp("graft_ftsincr_root") + "/idx"
    val ckpt = tmp("graft_ftsincr_ckpt")
    val docs = Tables.documents(spark, sf).where(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
    // batch 0: ids [0,50), with [40,50) carrying a stale revision that a
    // later re-delivery must shadow (the FTS5 UPDATE trigger pair)
    addChunk(src, docs.where(col("doc_id") < 50)
      .withColumn("text", when(col("doc_id") >= 40,
        concat(col("text"), lit(" qqstale"))).otherwise(col("text"))),
      "c1.parquet")
    Streams.incrementalFtsIndex(spark, src, idx, ckpt)
    // batch 1: re-deliver [40,50) current + add [50,100)
    addChunk(src, docs.where(col("doc_id") >= 40), "c2.parquet")
    Streams.incrementalFtsIndex(spark, src, idx, ckpt)
    val got = Fts.readIncrementalIndex(spark, idx)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = Fts.termIndex(docs, "doc_id", Seq("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(!got.exists(_._2 == "qqstale"),
      "stale-revision terms leaked past the last-writer-wins read")
    assert(got == want,
      s"incremental != rebuild: extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
    // a run with nothing new must leave the resolved state unchanged
    Streams.incrementalFtsIndex(spark, src, idx, ckpt)
    assert(Fts.readIncrementalIndex(spark, idx).count() == want.size.toLong)

    // compaction closes the lifecycle: the incremental store lands in
    // the persistent serving layout, row-identical to a direct batch
    // write, probe-identical through the prefix-pruned read path
    val serving = tmp("graft_ftsincr_out") + "/terms"
    Fts.compactFtsIndex(spark, idx, serving)
    val compacted = spark.read.parquet(serving)
    assert(compacted.columns.contains("term_pfx"), "compacted store lost the layout key")
    assert(compacted.select("id", "term")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == want,
      "compacted serving store differs from the batch term index")
    val probed = Fts.probeIds(spark, serving, Seq("spar", "wind"))
    val direct = Fts.matchingIds(
      Fts.termIndex(docs, "doc_id", Seq("text")), Seq("spar", "wind"))
      .collect().map(_.getLong(0)).toSet
    assert(probed == direct, "compacted-store probe differs from in-memory probe")
  }

  test("incremental gram index compacts to the direct serving index (d21 twin)") {
    import graft.operators.Dedup
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_gram_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_gram_src")
    val inc = tmp("graft_gram_root") + "/inc"
    val ckpt = tmp("graft_gram_ckpt")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // ownership merge is min-of-mins: split the corpus so some grams
    // occur in BOTH halves (doc split by parity keeps natural repeats
    // crossing the boundary) — compaction must still crown the global
    // min owner for every gram
    addChunk(src, docs.where(col("doc_id") % 2 === 0), "c1.parquet")
    Streams.incrementalGramIndex(spark, src, inc, ckpt, minLen = 10)
    addChunk(src, docs.where(col("doc_id") % 2 === 1), "c2.parquet")
    Streams.incrementalGramIndex(spark, src, inc, ckpt, minLen = 10)
    val serving = tmp("graft_gram_out") + "/serving"
    Dedup.compactGramIndex(spark, inc, serving, minLen = 10)
    val direct = tmp("graft_gram_out2") + "/direct"
    Dedup.writeGramIndex(docs, minLen = 10, direct)
    def gramSet(path: String) = spark.read.parquet(s"$path/grams")
      .select(col("gh"), col("min_doc"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(gramSet(serving) == gramSet(direct),
      "compacted gram index differs from the direct build")
    // and the compacted store SERVES identically: the d21 probe path
    // returns the same spans from either index
    def spans(path: String) =
      Dedup.dupSpansAgainstIndex(Dedup.readGramIndex(spark, path),
        Dedup.spanBatchOf(docs)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans(serving) == spans(direct),
      "compacted store serves different spans than the direct build")
  }

  test("streamed owners sidecar makes the compacted gram store purge-exact") {
    import graft.operators.{Dedup, Governance}
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_gramo_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_gramo_src")
    val inc = tmp("graft_gramo_root") + "/inc"
    val own = tmp("graft_gramo_root") + "/own"
    val ckpt = tmp("graft_gramo_ckpt")
    // plant a surviving clone of doc 3 so the purge must RE-OWN shared
    // grams, not just drop them (the GovernanceSpec fixture, streamed)
    val base = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val docs = base.unionByName(base.where(col("doc_id") === 3)
      .select(lit(500000L).as("doc_id"), col("text")))
    addChunk(src, docs.where(col("doc_id") % 2 === 0), "c1.parquet")
    Streams.incrementalGramIndex(spark, src, inc, ckpt, minLen = 10,
      ownersDir = Some(own))
    addChunk(src, docs.where(col("doc_id") % 2 === 1), "c2.parquet")
    Streams.incrementalGramIndex(spark, src, inc, ckpt, minLen = 10,
      ownersDir = Some(own))
    val serving = tmp("graft_gramo_out") + "/serving"
    Dedup.compactGramIndex(spark, inc, serving, minLen = 10,
      ownersIncrementalDir = Some(own))
    // compacted == a batch withOwners build, table for table
    val direct = tmp("graft_gramo_out2") + "/direct"
    Dedup.writeGramIndex(docs, minLen = 10, direct, withOwners = true)
    def tableSet(path: String, table: String, cols: Seq[String]) =
      spark.read.parquet(s"$path/$table").selectExpr(cols: _*)
        .collect().map(_.toSeq).toSet
    assert(tableSet(serving, "grams", Seq("gh", "min_doc", "bucket")) ==
      tableSet(direct, "grams", Seq("gh", "min_doc", "bucket")))
    assert(tableSet(serving, "owners", Seq("gh", "doc_id", "bucket")) ==
      tableSet(direct, "owners", Seq("gh", "doc_id", "bucket")))
    // purge through the COMPACTED store == a from-scratch rebuild over
    // the purged corpus — the exactness streamed stores used to lack
    val ids = docs.where(col("doc_id") === 3).select(col("doc_id").as("purge_id"))
    val purged = tmp("graft_gramo_out3") + "/purged"
    Governance.purgeStoredGramIndex(spark, serving, purged, ids)
    val rebuilt = tmp("graft_gramo_out4") + "/rebuilt"
    Dedup.writeGramIndex(docs.where(col("doc_id") =!= 3), minLen = 10, rebuilt)
    assert(tableSet(purged, "grams", Seq("gh", "min_doc", "bucket")) ==
      tableSet(rebuilt, "grams", Seq("gh", "min_doc", "bucket")))
    spark.catalog.clearCache()
  }

  test("owners compaction fails fast when the owners dir is missing a rollup batch") {
    import graft.operators.Dedup
    // Simulate a stream that ran batch 0 WITHOUT ownersDir (the sidecar
    // was enabled later): the rollup dir has batch_ids 0 and 1, the
    // owners dir only 1. Compacting from owners alone would silently
    // drop batch 0's postings — the guard must refuse instead.
    val root = tmp("graft_gramgap_root")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(20)
    val grams = graft.operators.Dedup.gramFrame(docs, 10)
    grams.groupBy("gh").agg(min(col("doc_id")).as("min_doc"))
      .write.parquet(s"$root/inc/batch_id=0")
    grams.groupBy("gh").agg(min(col("doc_id")).as("min_doc"))
      .write.parquet(s"$root/inc/batch_id=1")
    grams.select(col("gh"), col("doc_id")).distinct()
      .write.parquet(s"$root/own/batch_id=1")
    val ex = intercept[IllegalArgumentException] {
      Dedup.compactGramIndex(spark, s"$root/inc", s"$root/serving",
        minLen = 10, ownersIncrementalDir = Some(s"$root/own"))
    }
    assert(ex.getMessage.contains("missing batches 0"), ex.getMessage)
    spark.catalog.clearCache()
  }

  test("incremental linkage index compacts to the direct store and purges tombstones (d25 twin)") {
    import graft.operators.Dedup
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_link_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_link_src")
    val inc = tmp("graft_link_root") + "/inc"
    val ckpt = tmp("graft_link_ckpt")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    addChunk(src, docs.where(col("doc_id") % 2 === 0), "c1.parquet")
    Streams.incrementalLinkageIndex(spark, src, inc, ckpt)
    addChunk(src, docs.where(col("doc_id") % 2 === 1), "c2.parquet")
    Streams.incrementalLinkageIndex(spark, src, inc, ckpt)
    val serving = tmp("graft_link_out") + "/serving"
    Dedup.compactLinkageIndex(spark, inc, serving)
    val direct = tmp("graft_link_out2") + "/direct"
    Dedup.writeLinkageIndex(docs, direct)
    def keySet(path: String) = spark.read.parquet(s"$path/keys")
      .select(col("doc_id"), col("bk"), col("sig"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    assert(keySet(serving) == keySet(direct),
      "compacted linkage index differs from the direct build")
    // the compacted store SERVES identically through the pruned probe
    def links(path: String) =
      Dedup.linkAgainstIndex(Dedup.readLinkageIndex(spark, path),
        Dedup.linkBatchOf(docs), maxDist = 20).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(links(serving) == links(direct),
      "compacted store serves different links than the direct build")
    spark.catalog.clearCache()
    // takedown purge is a row filter at compaction (per-doc key rows —
    // unlike the gram store's cross-doc ownership, no rebuild needed):
    // tombstoned ids vanish from the store and from every served link
    import spark.implicits._
    val tomb = docs.select(col("doc_id")).where(col("doc_id") % 7 === 0)
    val purged = tmp("graft_link_out3") + "/purged"
    Dedup.compactLinkageIndex(spark, inc, purged, tombstones = Some(tomb))
    val purgedIds = spark.read.parquet(s"$purged/keys")
      .select("doc_id").as[Long].collect().toSet
    assert(purgedIds.forall(_ % 7 != 0), "tombstoned doc survived compaction")
    val servedMatches = links(purged).map(_._2)
    assert(servedMatches.forall(_ % 7 != 0),
      "a purged doc is still served as a link target")
    spark.catalog.clearCache()
  }

  test("incremental residual IVF-PQ codes compact to the frozen-model encode (n37b twin)") {
    import graft.operators.Similarity
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_res_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val chunk1 = emb.where(col("vec_id") % 2 === 0)
    val chunk2 = emb.where(col("vec_id") % 2 === 1)
    // nightly base: model TRAINED on chunk1 only — the frozen-model
    // contract under test is that chunk2 encodes against THIS model
    val basePath = tmp("graft_res_base") + "/store"
    val base = Similarity.buildIvfPqResidualIndex(chunk1, nCells = 16)
    Similarity.writeIvfPqResidualIndex(base, basePath)
    val baseCents = base.centroids
    val baseBooks = base.books
    base.unpersist()
    val src = tmp("graft_res_src")
    val inc = tmp("graft_res_root") + "/inc"
    val ckpt = tmp("graft_res_ckpt")
    addChunk(src, chunk2, "c2.parquet")
    Streams.incrementalIvfPqResidualEncode(spark, src, basePath, inc, ckpt)
    val serving = tmp("graft_res_out") + "/serving"
    Similarity.compactIvfPqResidualStore(spark, basePath, inc, serving)
    // expected = EVERY vector (both chunks) encoded against chunk1's
    // frozen model — the single shared residualEncode path
    def codeSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cell"), col("codes")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toList)).toSet
    val expected = codeSet(Similarity.residualEncode(baseCents, baseBooks, emb))
    val compacted = codeSet(spark.read.parquet(s"$serving/coded"))
    assert(compacted == expected,
      "compacted residual store differs from the frozen-model encode of all vectors")
    // and it SERVES through the ordinary read path (marker validated)
    val reloaded = Similarity.readIvfPqResidualIndex(spark, serving)
    val served = Similarity.ivfPqResidualTopK(reloaded, queryVecId = 0L, k = 5)
      .collect().map(_.getLong(0)).toList
    assert(served.head == 0L, "query vector should rank itself first")
    spark.catalog.clearCache()
    // takedown purge is a row filter at compaction
    import spark.implicits._
    val purged = tmp("graft_res_out2") + "/purged"
    Similarity.compactIvfPqResidualStore(spark, basePath, inc, purged,
      tombstones = Some(emb.select(col("vec_id")).where(col("vec_id") % 5 === 0)))
    val purgedIds = spark.read.parquet(s"$purged/coded")
      .select("vec_id").as[Long].collect().toSet
    assert(purgedIds.forall(_ % 5 != 0), "tombstoned vector survived compaction")
    spark.catalog.clearCache()
  }

  test("prefix-join re-delivery: LWW holds through later batches, compaction, and the serving read (d34c/d34d twin)") {
    import graft.operators.Dedup
    import spark.implicits._
    val src = tmp("graft_pfxlww_src")
    val idx = tmp("graft_pfxlww_root") + "/idx"
    val ckpt = tmp("graft_pfxlww_ckpt")
    val docs = Tables.documents(spark, sf).where(col("doc_id") < 120)
      .select(col("doc_id"), col("text"))
    Dedup.writePrefixIndex(docs.where(col("doc_id") < 60), idx)
    // doc 70's STALE revision is its true text plus a disjoint-token
    // tail — a near-dup of its own final revision, so any doc that
    // passes the threshold against the true text also passes against
    // the stale one (the configuration where a maintainer that fails
    // to LWW-resolve its stored read emits one pair row PER REVISION)
    val text70 = docs.where(col("doc_id") === 70).select("text")
    val stale70 = text70.select(lit(70L).as("doc_id"),
      concat(col("text"), lit(" qq0 qq1 qq2 qq3")).as("text"))
    // doc 3000 carries the SAME stale text as its one and only
    // revision — a guaranteed Jaccard-1.0 stale pair (70,3000) in c1
    // that must DOWNGRADE (not vanish) after 70's re-delivery
    val d3000 = stale70.select(lit(3000L).as("doc_id"), col("text"))
    // doc 3001 (c3, post-re-delivery) carries 70's TRUE text — the
    // probe for the two-revision stored read
    val d3001 = text70.select(lit(3001L).as("doc_id"), col("text"))
    util.Chunks.add(
      docs.where(col("doc_id") >= 60 && col("doc_id") < 90 && col("doc_id") =!= 70)
        .unionByName(stale70).unionByName(d3000), src, "c1.parquet")
    Streams.incrementalPrefixJoin(spark, src, idx, ckpt)
    val staleRows = Dedup.readPrefixJoinPairs(spark, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(staleRows.contains((70L, 3000L, 1.0)),
      s"stale revision's J=1.0 pair must be in the raw store: $staleRows")
    // c2 re-delivers doc 70 with its true text + [90,105)
    util.Chunks.add(
      docs.where(col("doc_id") >= 90 && col("doc_id") < 105 || col("doc_id") === 70),
      src, "c2.parquet")
    Streams.incrementalPrefixJoin(spark, src, idx, ckpt)
    // c3 arrives AFTER the re-delivery: its join reads a store holding
    // BOTH of 70's revisions
    util.Chunks.add(
      docs.where(col("doc_id") >= 105).unionByName(d3001), src, "c3.parquet")
    Streams.incrementalPrefixJoin(spark, src, idx, ckpt)
    // the two-revision probe: (70,3001) must appear EXACTLY ONCE in
    // the raw store — a non-LWW stored read would have verified 3001
    // against both revisions (J=1.0 true, J<1 stale — both pass) and
    // written one row per revision, both carrying c3's batch id, which
    // no later compaction rule could repair
    val raw = Dedup.readPrefixJoinPairs(spark, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val probe = raw.filter(t => t._1 == 70L && t._2 == 3001L)
    assert(probe.length == 1 && probe.head._3 == 1.0,
      s"(70,3001) must be one J=1.0 row, got: ${probe.toList}")
    // compaction / LWW serving read both equal the one-shot join of
    // the FINAL corpus (true docs + 3000's only revision + 3001)
    val serving = tmp("graft_pfxlww_out") + "/serving"
    Dedup.compactPrefixIndex(spark, idx, serving)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = pairSet(Dedup.readPrefixJoinPairs(spark, serving))
    val finalCorpus = docs.unionByName(d3000).unionByName(d3001)
    val expected = pairSet(Dedup.prefixJaccardJoin(finalCorpus))
    assert(got == expected,
      s"extra=${got -- expected} missing=${expected -- got}")
    assert(pairSet(Dedup.readPrefixJoinPairsLww(spark, idx)) == expected,
      "LWW serving read over the RAW store must equal the compacted store")
    // the stale J=1.0 pair DOWNGRADED to the true-text jaccard (<1)
    val p3000 = got.filter(t => t._1 == 70L && t._2 == 3000L)
    assert(p3000.size == 1 && p3000.head._3 < 1.0,
      s"(70,3000) must survive at the true-text jaccard: $p3000")
    // compacted toks hold exactly one revision per doc — doc 70's the true one
    assert(spark.read.parquet(s"$serving/toks")
      .where(col("doc_id") === 70).count() == 1,
      "LWW must keep exactly one token set per doc")
    // a tombstone recorded between appends holds through compaction on
    // toks, pfx, AND pairs (either side)
    val tombs = tmp("graft_pfxlww_tomb") + "/tombstones"
    graft.operators.Governance.recordTombstones(spark, tombs,
      Seq(3000L).toDF("purge_id"))
    val serving2 = tmp("graft_pfxlww_out2") + "/serving"
    Dedup.compactPrefixIndex(spark, idx, serving2, tombstonePath = Some(tombs))
    assert(spark.read.parquet(s"$serving2/toks")
      .where(col("doc_id") === 3000).count() == 0)
    assert(spark.read.parquet(s"$serving2/pfx")
      .where(col("doc_id") === 3000).count() == 0)
    val purged = pairSet(Dedup.readPrefixJoinPairs(spark, serving2))
    assert(purged == expected.filterNot {
      case (a, b, _) => a == 3000L || b == 3000L })
    spark.catalog.clearCache()
  }

  test("minhash re-delivery: LWW holds through later batches, compaction, and the serving read (d2c/d2d twin)") {
    import graft.operators.Dedup
    import spark.implicits._
    val src = tmp("graft_mhlww_src")
    val idx = tmp("graft_mhlww_root") + "/idx"
    val pairsDir = tmp("graft_mhlww_root2") + "/pairs"
    val ckpt = tmp("graft_mhlww_ckpt")
    val docs = Tables.documents(spark, sf).where(col("doc_id") < 120)
      .select(col("doc_id"), col("text"))
    // doc 70's STALE revision = its true text + a disjoint-token tail
    // (the d34c trick): any doc passing the Jaccard threshold against
    // the true text also passes against the stale one, so a maintainer
    // that fails to LWW-resolve its stored read emits one pair row PER
    // REVISION for the post-re-delivery probe.
    val text70 = docs.where(col("doc_id") === 70).select("text")
    val stale70 = text70.select(lit(70L).as("doc_id"),
      concat(col("text"), lit(" qq0 qq1 qq2 qq3")).as("text"))
    // doc 3000: the stale text as its one and only revision — a
    // guaranteed J=1.0 stale pair (70,3000) in c1 that must DOWNGRADE
    // (not vanish) after 70's re-delivery
    val d3000 = stale70.select(lit(3000L).as("doc_id"), col("text"))
    // doc 3001 (c3, post-re-delivery): 70's TRUE text — the
    // two-revision stored-read probe
    val d3001 = text70.select(lit(3001L).as("doc_id"), col("text"))
    util.Chunks.add(
      docs.where(col("doc_id") < 90 && col("doc_id") =!= 70)
        .unionByName(stale70).unionByName(d3000), src, "c1.parquet")
    Streams.incrementalMinhashIndex(spark, src, idx, pairsDir, ckpt)
    val staleRows = spark.read.parquet(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(staleRows.contains((70L, 3000L, 1.0)),
      s"stale revision's J=1.0 pair must be in the raw store: $staleRows")
    util.Chunks.add(
      docs.where(col("doc_id") >= 90 && col("doc_id") < 105 || col("doc_id") === 70),
      src, "c2.parquet")
    Streams.incrementalMinhashIndex(spark, src, idx, pairsDir, ckpt)
    util.Chunks.add(
      docs.where(col("doc_id") >= 105).unionByName(d3001), src, "c3.parquet")
    Streams.incrementalMinhashIndex(spark, src, idx, pairsDir, ckpt)
    // the two-revision probe: (70,3001) exactly once, at the TRUE J=1.0
    val raw = spark.read.parquet(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val probe = raw.filter(t => t._1 == 70L && t._2 == 3001L)
    assert(probe.length == 1 && probe.head._3 == 1.0,
      s"(70,3001) must be one J=1.0 row, got: ${probe.toList}")
    // the raw directories keep the stale audit trail the serving views
    // must filter — if nothing is filterable the gates prove nothing
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val finalCorpus = docs.unionByName(d3000).unionByName(d3001)
    val batchIx = Dedup.buildMinhashIndex(finalCorpus)
    val expected = pairSet(Dedup.minhashPairs(batchIx, threshold = 0.5))
    batchIx.unpersist()
    assert(raw.length > expected.size,
      "raw pair dirs must still carry the superseded revision's rows")
    // LWW serving read == compaction == the one-shot batch join
    assert(pairSet(Dedup.readIncrementalMinhashPairsLww(spark, idx, pairsDir))
      == expected, "LWW serving read must equal the one-shot batch join")
    val out = tmp("graft_mhlww_out") + "/pairs"
    Dedup.compactMinhashPairs(spark, idx, pairsDir, out)
    assert(pairSet(spark.read.parquet(out)
      .select("doc_a", "doc_b", "jaccard")) == expected,
      "compacted pairs must equal the one-shot batch join")
    // the stale J=1.0 pair downgraded to the true-text jaccard (<1) —
    // presence rides the band collision of two near-identical
    // signatures (one-shot and incremental agree by construction), so
    // pin only the VALUE rule: no J=1.0 row may survive for (70,3000)
    val p3000 = expected.filter(t => t._1 == 70L && t._2 == 3000L)
    assert(p3000.forall(_._3 < 1.0),
      s"(70,3000) must not survive at the stale J=1.0: $p3000")
    // tombstones hold through pair compaction on EITHER side
    val tombs = tmp("graft_mhlww_tomb") + "/t"
    graft.operators.Governance.recordTombstones(spark, tombs,
      Seq(3000L).toDF("purge_id"))
    val out2 = tmp("graft_mhlww_out2") + "/pairs"
    Dedup.compactMinhashPairs(spark, idx, pairsDir, out2,
      tombstonePath = Some(tombs))
    assert(pairSet(spark.read.parquet(out2)
      .select("doc_a", "doc_b", "jaccard")) ==
      expected.filterNot { case (a, b, _) => a == 3000L || b == 3000L })
    spark.catalog.clearCache()
  }

  test("simhash re-delivery: a stale fingerprint cannot serve spurious pairs after the re-delivery (d3c/d3d twin)") {
    import graft.operators.Dedup
    import spark.implicits._
    val src = tmp("graft_shlww_src")
    val idx = tmp("graft_shlww_root") + "/idx"
    val pairsDir = tmp("graft_shlww_root2") + "/pairs"
    val ckpt = tmp("graft_shlww_ckpt")
    val docs = Tables.documents(spark, sf).where(col("doc_id") < 120)
      .select(col("doc_id"), col("text"))
    // doc 70's STALE revision = doc 3's text (Hamming 0 against any
    // later clone of doc 3); its TRUE revision is its own text.
    val stale70 = docs.where(col("doc_id") === 3)
      .select(lit(70L).as("doc_id"), col("text"))
    val d3000 = docs.where(col("doc_id") === 3)
      .select(lit(3000L).as("doc_id"), col("text"))  // guaranteed c1 stale pair
    val d3001 = docs.where(col("doc_id") === 3)
      .select(lit(3001L).as("doc_id"), col("text"))  // c3 probe ≡ the stale text
    util.Chunks.add(
      docs.where(col("doc_id") < 90 && col("doc_id") =!= 70)
        .unionByName(stale70).unionByName(d3000), src, "c1.parquet")
    Streams.incrementalSimhashIndex(spark, src, idx, pairsDir, ckpt)
    val c1Rows = spark.read.parquet(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(c1Rows.contains((70L, 3000L, 0)),
      s"stale revision's Hamming-0 pair must be in the raw store: $c1Rows")
    util.Chunks.add(
      docs.where(col("doc_id") >= 90 && col("doc_id") < 105 || col("doc_id") === 70),
      src, "c2.parquet")
    Streams.incrementalSimhashIndex(spark, src, idx, pairsDir, ckpt)
    util.Chunks.add(
      docs.where(col("doc_id") >= 105).unionByName(d3001), src, "c3.parquet")
    Streams.incrementalSimhashIndex(spark, src, idx, pairsDir, ckpt)
    // the stale-fingerprint probe: 3001 ≡ 70's SUPERSEDED text arrives
    // after the re-delivery — a non-LWW stored read would emit a
    // spurious Hamming-0 (70,3001) row with c3's batch id, which no
    // downstream rule could repair
    val raw = spark.read.parquet(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(!raw.exists(t => t._1 == 70L && t._2 == 3001L && t._3 == 0),
      "the superseded fingerprint served a spurious Hamming-0 pair")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val finalCorpus = docs.unionByName(d3000).unionByName(d3001)
    val batchIx = Dedup.buildSimhashIndex(finalCorpus)
    val expected = pairSet(Dedup.simhashPairs(batchIx))
    batchIx.unpersist()
    assert(raw.length > expected.size,
      "raw pair dirs must still carry the superseded revision's rows")
    assert(pairSet(Dedup.readIncrementalSimhashPairsLww(spark, idx, pairsDir))
      == expected, "LWW serving read must equal the one-shot batch join")
    val out = tmp("graft_shlww_out") + "/pairs"
    Dedup.compactSimhashPairs(spark, idx, pairsDir, out)
    assert(pairSet(spark.read.parquet(out)
      .select("doc_a", "doc_b", "hamming")) == expected,
      "compacted pairs must equal the one-shot batch join")
    // (3000,3001) — both ≡ doc 3's text — is a TRUE Hamming-0 pair and
    // must survive; tombstoning 3000 removes exactly its pairs
    assert(expected.contains((3000L, 3001L, 0)))
    val tombs = tmp("graft_shlww_tomb") + "/t"
    graft.operators.Governance.recordTombstones(spark, tombs,
      Seq(3000L).toDF("purge_id"))
    val out2 = tmp("graft_shlww_out2") + "/pairs"
    Dedup.compactSimhashPairs(spark, idx, pairsDir, out2,
      tombstonePath = Some(tombs))
    assert(pairSet(spark.read.parquet(out2)
      .select("doc_a", "doc_b", "hamming")) ==
      expected.filterNot { case (a, b, _) => a == 3000L || b == 3000L })
    spark.catalog.clearCache()
  }

  test("vector re-delivery: a stale embedding cannot serve spurious pairs after the re-delivery (d5c/d5d twin)") {
    import graft.operators.Similarity
    import spark.implicits._
    val src = tmp("graft_veclww_src")
    val idx = tmp("graft_veclww_root") + "/idx"
    val pairsDir = tmp("graft_veclww_root2") + "/pairs"
    val ckpt = tmp("graft_veclww_ckpt")
    val vecs = Tables.embeddings(spark, sf).where(col("vec_id") < 120)
      .select(col("vec_id"), col("embedding"))
    // vec 70's STALE revision = vec 3's embedding; TRUE = its own.
    def asId(srcId: Long, newId: Long) = vecs.where(col("vec_id") === srcId)
      .select(lit(newId).as("vec_id"), col("embedding"))
    util.Chunks.add(
      vecs.where(col("vec_id") < 90 && col("vec_id") =!= 70)
        .unionByName(asId(3L, 70L)).unionByName(asId(3L, 3000L)),
      src, "c1.parquet")
    Streams.incrementalVectorIndex(spark, src, idx, pairsDir, ckpt)
    val c1Rows = spark.read.parquet(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // identical int vectors: cos = n2/(sqrt(n2)·sqrt(n2)) ≈ 1.0 up to
    // IEEE sqrt round-trip — assert by pair key + near-1 value
    assert(c1Rows.exists(t => t._1 == 70L && t._2 == 3000L && t._3 > 0.999),
      s"stale revision's cos~1.0 pair must be in the raw store: $c1Rows")
    util.Chunks.add(
      vecs.where(col("vec_id") >= 90 && col("vec_id") < 105 || col("vec_id") === 70),
      src, "c2.parquet")
    Streams.incrementalVectorIndex(spark, src, idx, pairsDir, ckpt)
    util.Chunks.add(
      vecs.where(col("vec_id") >= 105).unionByName(asId(3L, 3001L)),
      src, "c3.parquet")
    Streams.incrementalVectorIndex(spark, src, idx, pairsDir, ckpt)
    // stale-embedding probe: 3001 ≡ 70's SUPERSEDED vector arrives
    // after the re-delivery — a non-LWW stored read would emit a
    // spurious cos-1.0 (70,3001) row with c3's batch id
    val raw = spark.read.parquet(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(!raw.exists(t => t._1 == 70L && t._2 == 3001L),
      "the superseded embedding served a spurious pair")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val finalCorpus = vecs.unionByName(asId(3L, 3000L)).unionByName(asId(3L, 3001L))
    val batchIx = Similarity.buildCosineIndex(finalCorpus)
    val expected = pairSet(Similarity.cosineDedupPairs(batchIx, threshold = 0.9))
    batchIx.unpersist()
    assert(raw.length > expected.size,
      "raw pair dirs must still carry the superseded revision's rows")
    assert(pairSet(Similarity.readIncrementalVectorPairsLww(spark, idx, pairsDir))
      == expected, "LWW serving read must equal the one-shot batch join")
    val out = tmp("graft_veclww_out") + "/pairs"
    Similarity.compactVectorPairs(spark, idx, pairsDir, out)
    assert(pairSet(spark.read.parquet(out)
      .select("vec_a", "vec_b", "cos")) == expected,
      "compacted pairs must equal the one-shot batch join")
    // (3000,3001) — both ≡ vec 3 — is a TRUE cos~1.0 pair and must
    // survive; tombstoning 3000 removes exactly its pairs
    assert(expected.exists(t => t._1 == 3000L && t._2 == 3001L && t._3 > 0.999))
    val tombs = tmp("graft_veclww_tomb") + "/t"
    graft.operators.Governance.recordTombstones(spark, tombs,
      Seq(3000L).toDF("purge_id"))
    val out2 = tmp("graft_veclww_out2") + "/pairs"
    Similarity.compactVectorPairs(spark, idx, pairsDir, out2,
      tombstonePath = Some(tombs))
    assert(pairSet(spark.read.parquet(out2)
      .select("vec_a", "vec_b", "cos")) ==
      expected.filterNot { case (a, b, _) => a == 3000L || b == 3000L })
    spark.catalog.clearCache()
  }

  test("prefix store WITHOUT the ids sidecar: LWW read falls back, the maintainer backfills once (pre-r19 store compat)") {
    import graft.operators.Dedup
    val src = tmp("graft_pfxleg_src")
    val idx = tmp("graft_pfxleg_root") + "/idx"
    val ckpt = tmp("graft_pfxleg_ckpt")
    val docs = Tables.documents(spark, sf).where(col("doc_id") < 120)
      .select(col("doc_id"), col("text"))
    Dedup.writePrefixIndex(docs.where(col("doc_id") < 60), idx)
    // simulate a store written before the sidecar existed
    val idsPath = new org.apache.hadoop.fs.Path(s"$idx/ids")
    val fs = idsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(idsPath), "writePrefixIndex should write the sidecar")
    fs.delete(idsPath, true)
    // the read-time LWW view serves through the token-directory
    // fallback — the identity on an append-only store
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairSet(Dedup.readPrefixJoinPairsLww(spark, idx)) ==
      pairSet(Dedup.readPrefixJoinPairs(spark, idx)),
      "fallback LWW read must be the identity on an append-only legacy store")
    // first maintainer touch BACKFILLS the sidecar (one winners pass,
    // paid once), then the batch joins exactly as on a new store
    util.Chunks.add(docs.where(col("doc_id") >= 60), src, "c1.parquet")
    Streams.incrementalPrefixJoin(spark, src, idx, ckpt)
    assert(fs.exists(idsPath), "maintainer must backfill the ids sidecar")
    // winners cover base docs (backfilled at batch_id=-1) AND the batch
    val winners = spark.read.parquet(s"$idx/ids")
    assert(winners.where(col("batch_id") === -1).count() ==
      Dedup.prefixTokens(docs.where(col("doc_id") < 60)).count(),
      "backfill must cover every base doc at its winning batch")
    assert(winners.select("doc_id").distinct().count() ==
      Dedup.prefixTokens(docs).count(),
      "winners must cover base and batch docs exactly once each")
    // accumulated pairs equal the one-shot batch join of the corpus
    assert(pairSet(Dedup.readPrefixJoinPairs(spark, idx)) ==
      pairSet(Dedup.prefixJaccardJoin(docs)),
      "legacy-store increment must equal the one-shot batch join")
    spark.catalog.clearCache()
  }
}
