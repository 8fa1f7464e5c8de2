package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Governance}

/** A takedown must erase the document set from EVERY artifact, or the
  * retracted text lives on in band tables and shingle frames.
  */
class GovernanceSpec extends AnyFunSuite with SparkSuite {

  test("takedown purge leaves no trace in the stored dedup index") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val ids = docs.where(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("purge_id"))
    val purgedIds = ids.as[Long].collect().toSet
    assert(purgedIds.nonEmpty)

    val root = util.TmpRoot("gov-spec")
    val ix = Dedup.buildMinhashIndex(docs)
    Dedup.writeMinhashIndex(ix, s"$root/live")
    ix.unpersist()
    Governance.purgeStoredMinhashIndex(spark, s"$root/live", s"$root/purged", ids)

    // 1. no purged doc_id survives in either index table
    val purged = Dedup.readMinhashIndex(spark, s"$root/purged")
    assert(purged.banded.where(col("doc_id").isin(purgedIds.toSeq: _*)).count() == 0)
    assert(purged.sigs.where(col("doc_id").isin(purgedIds.toSeq: _*)).count() == 0)
    // 2. non-purged content is untouched (row-for-row)
    val live = Dedup.readMinhashIndex(spark, s"$root/live")
    assert(purged.sigs.count() ==
      live.sigs.where(!col("doc_id").isin(purgedIds.toSeq: _*)).count())

    // 3. the retraction is effective: re-submitting an exact copy of a
    // purged doc finds NO match in the purged index — while the live
    // index (pre-purge) still links it. Batch ids offset to stay
    // disjoint from corpus ids, per the d10 contract.
    val resubmit = Dedup.buildMinhashIndex(
      docs.where(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    try {
      val before = Dedup.dedupAgainstIndex(live, resubmit, threshold = 0.9)
      assert(before.count() >= purgedIds.size,
        "live index should match every re-submitted clone")
      val after = Dedup.dedupAgainstIndex(purged, resubmit, threshold = 0.9)
      val offenders = after.where(col("doc_a").isin(purgedIds.toSeq: _*))
      assert(offenders.count() == 0,
        "purged index still links re-submitted copies to erased docs")
    } finally resubmit.unpersist()
  }

  test("pre-meta minhash store reads and purges via the 64-bucket fallback") {
    // Stores written before the modulus was pinned on disk (round 15)
    // have no $path/meta. The reader must fall back to the historical
    // implicit default of 64 (with a warning), and a purge must both
    // succeed and RE-PIN the modulus on its output — the on-disk
    // upgrade path for old stores.
    import spark.implicits._
    val docs = Tables.documents(spark, sf).where(col("doc_id") < 200)
    val root = util.TmpRoot("gov-premeta")
    val ix = Dedup.buildMinhashIndex(docs)
    Dedup.writeMinhashIndex(ix, s"$root/old")
    ix.unpersist()
    // simulate a pre-meta store: delete the meta table
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(s"$root/old/meta"))
    val stored = Dedup.readMinhashIndex(spark, s"$root/old")
    assert(stored.nBuckets == 64, "fallback modulus must be the historical 64")
    val ids = Seq(0L, 50L).toDF("purge_id")
    Governance.purgeStoredMinhashIndex(spark, s"$root/old", s"$root/up", ids)
    val upgraded = Dedup.readMinhashIndex(spark, s"$root/up")
    assert(upgraded.nBuckets == 64, "purge must re-pin the modulus on output")
    assert(new java.io.File(s"$root/up/meta").exists(),
      "purge output must carry a meta table (store upgraded)")
    assert(upgraded.sigs.where(col("doc_id").isin(0L, 50L)).count() == 0)
  }

  test("takedown purge removes vectors from the stored ANN index") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val ids = emb.where(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("purge_id"))
    val purgedIds = ids.as[Long].collect().toSet
    assert(purgedIds.nonEmpty && !purgedIds.contains(1L))

    val root = util.TmpRoot("gov-vec")
    val built = Similarity.buildIvfIndex(emb, nCells = 16)
    Similarity.writeIvfIndex(built, s"$root/live")
    built.unpersist()
    Governance.purgeStoredIvfIndex(spark, s"$root/live", s"$root/purged", ids)

    val purged = Similarity.readIvfIndex(spark, s"$root/purged")
    // no purged vector survives in the assignment frame
    assert(purged.assigned.where(col("vec_id").isin(purgedIds.toSeq: _*)).count() == 0)
    // non-purged rows intact, and the query path still serves
    val live = Similarity.readIvfIndex(spark, s"$root/live")
    assert(purged.assigned.count() ==
      live.assigned.where(!col("vec_id").isin(purgedIds.toSeq: _*)).count())
    val got = Similarity.ivfTopK(purged, queryVecId = 1L, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.size == 10 && got.intersect(purgedIds).isEmpty,
      "purged vectors still retrievable from the ANN index")
  }

  test("takedown purge removes fingerprints from the stored SimHash index") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val ids = docs.where(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("purge_id"))
    val purgedIds = ids.as[Long].collect().toSet
    assert(purgedIds.nonEmpty)

    val root = util.TmpRoot("gov-sim")
    val ix = Dedup.buildSimhashIndex(Dedup.withExactProbes(docs))
    Dedup.writeSimhashIndex(ix, s"$root/live")
    ix.unpersist()
    Governance.purgeStoredSimhashIndex(spark, s"$root/live", s"$root/purged", ids)

    // no purged fingerprint survives either table
    val purged = Dedup.readSimhashIndex(spark, s"$root/purged")
    assert(purged.sims.where(col("doc_id").isin(purgedIds.toSeq: _*)).count() == 0)
    assert(spark.read.parquet(s"$root/purged/banded")
      .where(col("doc_id").isin(purgedIds.toSeq: _*)).count() == 0)
    // non-purged rows intact, pair path serves clean results
    val live = Dedup.readSimhashIndex(spark, s"$root/live")
    assert(purged.sims.count() ==
      live.sims.where(!col("doc_id").isin(purgedIds.toSeq: _*)).count())
    val pairs = Dedup.simhashPairs(purged)
      .select("doc_a", "doc_b").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(pairs.intersect(purgedIds).isEmpty,
      "purged docs still reachable through the stored SimHash pair path")
  }

  test("takedown purge removes terms from the stored FTS index") {
    import spark.implicits._
    import graft.operators.Fts
    val docs = Tables.documents(spark, sf)
    val ids = docs.where(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("purge_id"))
    val purgedIds = ids.as[Long].collect().toSet
    assert(purgedIds.nonEmpty)

    val root = util.TmpRoot("gov-fts")
    Fts.writeTermIndex(Fts.termIndex(docs, "doc_id", Seq("text")), s"$root/live")
    Governance.purgeStoredFtsIndex(spark, s"$root/live", s"$root/purged", ids)

    val purged = spark.read.parquet(s"$root/purged")
    // 1. not one term row of a purged doc survives — terms ARE the text
    assert(purged.where(col("id").isin(purgedIds.toSeq: _*)).count() == 0)
    // 2. non-purged rows intact, layout columns present (term_pfx kept)
    val live = spark.read.parquet(s"$root/live")
    assert(purged.count() ==
      live.where(!col("id").isin(purgedIds.toSeq: _*)).count())
    assert(purged.columns.contains("term_pfx"))
    // 3. unfindability through the serving path: the probe answered from
    // the purged store returns the live result minus exactly the purge set
    def hits(store: String): Set[Long] =
      Fts.probeIds(spark, s"$root/$store", Seq("spar", "wind"))
    val liveHits = hits("live")
    assert(liveHits.intersect(purgedIds).nonEmpty,
      "probe must cover purged ids or the check is vacuous")
    assert(hits("purged") == liveHits -- purgedIds,
      "purged ids still findable through the stored FTS index")
  }

  test("takedown purge removes codes from the stored PQ and IVF-PQ indexes") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val ids = emb.where(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("purge_id"))
    val purgedIds = ids.as[Long].collect().toSet
    assert(purgedIds.nonEmpty && !purgedIds.contains(1L))

    val root = util.TmpRoot("gov-pq")
    val pq = Similarity.buildPqIndex(emb)
    Similarity.writePqIndex(pq, s"$root/pq-live")
    pq.unpersist()
    Governance.purgeStoredPqIndex(spark, s"$root/pq-live", s"$root/pq-purged", ids)
    val pqPurged = Similarity.readPqIndex(spark, s"$root/pq-purged")
    try {
      // codes are content — none survive; model tables round-trip
      assert(pqPurged.coded.where(col("vec_id").isin(purgedIds.toSeq: _*)).count() == 0)
      assert(pqPurged.nSub == pq.nSub && pqPurged.nCentroids == pq.nCentroids)
      val got = Similarity.pqTopK(pqPurged, queryVecId = 1L, k = 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got.size == 10 && got.intersect(purgedIds).isEmpty,
        "purged vectors still retrievable from the stored PQ index")
    } finally pqPurged.unpersist()

    val ivfpq = Similarity.buildIvfPqIndex(emb, nCells = 16)
    Similarity.writeIvfPqIndex(ivfpq, s"$root/ivfpq-live")
    ivfpq.unpersist()
    Governance.purgeStoredIvfPqIndex(
      spark, s"$root/ivfpq-live", s"$root/ivfpq-purged", ids)
    val ipPurged = Similarity.readIvfPqIndex(spark, s"$root/ivfpq-purged")
    assert(ipPurged.frame.where(col("vec_id").isin(purgedIds.toSeq: _*)).count() == 0)
    // cell partitioning preserved: probes prune as before and the query
    // path serves clean results
    assert(ipPurged.frame.columns.contains("cell"))
    val got2 = Similarity.ivfPqTopK(ipPurged, queryVecId = 1L, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got2.size == 10 && got2.intersect(purgedIds).isEmpty,
      "purged vectors still retrievable from the stored IVF-PQ index")
  }

  test("FTS purge survives compaction: takedown ids stay gone through the serving rewrite") {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.operators.Fts
    val docs = Tables.documents(spark, sf).where(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
    val purgedIds = docs.where(col("doc_id") % 10 === 0)
      .select(col("doc_id")).as[Long].collect().toSet
    val ids = docs.where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("purge_id"))

    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = util.TmpRoot("gov-ftscmp-stage") + s"/$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(dir))
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val root = util.TmpRoot("gov-ftscmp")
    val src = s"$root/src"; val idx = s"$root/idx"; val ckpt = s"$root/ckpt"
    addChunk(src, docs.where(col("doc_id") < 50), "c1.parquet")
    streaming.Streams.incrementalFtsIndex(spark, src, idx, ckpt)
    addChunk(src, docs.where(col("doc_id") >= 50), "c2.parquet")
    streaming.Streams.incrementalFtsIndex(spark, src, idx, ckpt)

    // takedown on the incremental store (batch_id rides along for LWW),
    // then the maintenance rewrite into the serving layout
    val purgedStore = s"$root/idx-purged"
    Governance.purgeFrame(
      spark.read.option("basePath", idx).parquet(idx), ids, idCol = "id")
      .write.mode("overwrite").partitionBy("batch_id").parquet(purgedStore)
    val serving = s"$root/serving"
    Fts.compactFtsIndex(spark, purgedStore, serving)
    val compacted = spark.read.parquet(serving)
    assert(compacted.where(col("id").isin(purgedIds.toSeq: _*)).count() == 0,
      "FTS compaction resurrected purged ids")
    val hits = Fts.probeIds(spark, serving, Seq("spar", "wind"))
    assert(hits.intersect(purgedIds).isEmpty,
      "purged ids findable through the compacted FTS serving store")
  }

  test("purge survives compaction: takedown ids stay gone across index maintenance") {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val purgedIds = docs.where(col("doc_id") % 50 === 0)
      .select(col("doc_id")).as[Long].collect().toSet
    val ids = docs.where(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("purge_id"))

    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = util.TmpRoot("gov-cmp-stage") + s"/$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(dir))
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val root = util.TmpRoot("gov-cmp")
    val src = s"$root/src"; val index = s"$root/idx"
    val pairsDir = s"$root/pairs"; val ckpt = s"$root/ckpt"
    addChunk(src, docs.where(col("doc_id") < 250), "c1.parquet")
    streaming.Streams.incrementalMinhashIndex(spark, src, index, pairsDir, ckpt)
    addChunk(src, docs.where(col("doc_id") >= 250), "c2.parquet")
    streaming.Streams.incrementalMinhashIndex(spark, src, index, pairsDir, ckpt)

    // takedown: rewrite the incremental store minus the purge set (the
    // batch_id partition column rides along so LWW survives the rewrite)
    val purgedStore = s"$root/idx-purged"
    Governance.purgeFrame(
      spark.read.option("basePath", index).parquet(index), ids)
      .write.mode("overwrite").partitionBy("batch_id").parquet(purgedStore)

    // maintenance AFTER the takedown: compaction must not resurrect ids
    val serving = s"$root/serving"
    Dedup.compactMinhashIndex(spark, purgedStore, serving)
    val stored = Dedup.readMinhashIndex(spark, serving)
    assert(stored.sigs.where(col("doc_id").isin(purgedIds.toSeq: _*)).count() == 0,
      "compaction resurrected purged ids in the signature table")
    assert(stored.banded.where(col("doc_id").isin(purgedIds.toSeq: _*)).count() == 0,
      "compaction resurrected purged ids in the banded table")
    // and the re-submission probe stays clean through the compacted store
    val resubmit = Dedup.buildMinhashIndex(
      docs.where(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    try {
      val after = Dedup.dedupAgainstIndex(stored, resubmit, threshold = 0.9)
      assert(after.where(col("doc_a").isin(purgedIds.toSeq: _*)).count() == 0,
        "compacted index still links re-submitted copies to erased docs")
    } finally resubmit.unpersist()
  }

  test("tombstone store: empty-safe read, append-only accumulation") {
    import spark.implicits._
    val root = util.TmpRoot("gov-tomb-store")
    // missing store reads as EMPTY, not an error — compactors compose it
    // unconditionally
    assert(Governance.readTombstones(spark, s"$root/none").count() == 0)
    // two successive takedowns ACCUMULATE (an overwrite would un-purge
    // the first set — the exact resurrection bug tombstones exist to kill)
    Governance.recordTombstones(spark, s"$root/t",
      Seq(1L, 2L).toDF("purge_id"))
    Governance.recordTombstones(spark, s"$root/t",
      Seq(2L, 3L).toDF("purge_id"))
    val got = Governance.readTombstones(spark, s"$root/t")
      .as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L))
  }

  test("tombstones survive re-ingest: re-delivered purged docs stay gone through FTS read and compaction") {
    import spark.implicits._
    import graft.operators.Fts
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val purgedIds = docs.where(col("doc_id") % 50 === 0)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(purgedIds.nonEmpty)

    val root = util.TmpRoot("gov-tomb-fts")
    // batch 0: full corpus; takedown recorded; batch 1 RE-DELIVERS every
    // purged doc — under plain LWW the re-delivery would WIN
    Fts.termIndex(docs, "doc_id", Seq("text"))
      .write.parquet(s"$root/inc/batch_id=0")
    Governance.recordTombstones(spark, s"$root/tomb",
      docs.where(col("doc_id") % 50 === 0).select(col("doc_id").as("purge_id")))
    Fts.termIndex(docs.where(col("doc_id") % 50 === 0), "doc_id", Seq("text"))
      .write.parquet(s"$root/inc/batch_id=1")

    // negative control first: WITHOUT tombstones the re-delivery serves —
    // proving the positive assertions below are not vacuous
    val naive = Fts.readIncrementalIndex(spark, s"$root/inc")
    assert(naive.where(col("id").isin(purgedIds.toSeq: _*)).count() > 0,
      "fixture broken: re-delivered docs should resurrect without tombstones")

    // read-time suppression (before any compaction runs)
    val masked = Fts.readIncrementalIndex(spark, s"$root/inc",
      tombstonePath = Some(s"$root/tomb"))
    assert(masked.where(col("id").isin(purgedIds.toSeq: _*)).count() == 0,
      "tombstone-aware incremental read served purged ids")

    // compaction-time suppression, end to end through the serving probe
    Fts.compactFtsIndex(spark, s"$root/inc", s"$root/serving",
      tombstonePath = Some(s"$root/tomb"))
    val compacted = spark.read.parquet(s"$root/serving")
    assert(compacted.where(col("id").isin(purgedIds.toSeq: _*)).count() == 0,
      "tombstone-aware compaction resurrected purged ids")
    val hits = Fts.probeIds(spark, s"$root/serving", Seq("spar", "wind"))
    assert(hits.intersect(purgedIds).isEmpty,
      "purged ids findable through the tombstone-compacted serving store")
    // non-purged docs are untouched by the suppression
    assert(compacted.count() ==
      naive.where(!col("id").isin(purgedIds.toSeq: _*)).count())
  }

  test("tombstones survive re-ingest through MinHash and vector compaction") {
    import spark.implicits._
    import graft.operators.Similarity
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val purgedIds = docs.where(col("doc_id") % 50 === 0)
      .select(col("doc_id")).as[Long].collect().toSet

    val root = util.TmpRoot("gov-tomb-mh")
    Dedup.signatureFrame(docs).write.parquet(s"$root/inc/batch_id=0")
    Governance.recordTombstones(spark, s"$root/tomb",
      docs.where(col("doc_id") % 50 === 0).select(col("doc_id").as("purge_id")))
    Dedup.signatureFrame(docs.where(col("doc_id") % 50 === 0))
      .write.parquet(s"$root/inc/batch_id=1")

    // negative control: tombstone-less compaction resurrects
    Dedup.compactMinhashIndex(spark, s"$root/inc", s"$root/naive")
    assert(Dedup.readMinhashIndex(spark, s"$root/naive").sigs
      .where(col("doc_id").isin(purgedIds.toSeq: _*)).count() > 0,
      "fixture broken: re-delivery should resurrect without tombstones")
    // tombstone-aware compaction suppresses, in BOTH serving tables
    Dedup.compactMinhashIndex(spark, s"$root/inc", s"$root/serving",
      tombstonePath = Some(s"$root/tomb"))
    val stored = Dedup.readMinhashIndex(spark, s"$root/serving")
    assert(stored.sigs.where(col("doc_id").isin(purgedIds.toSeq: _*)).count() == 0)
    assert(stored.banded.where(col("doc_id").isin(purgedIds.toSeq: _*)).count() == 0)

    // vector side: same re-ingest shape through compactVectorIndex
    val emb = Tables.embeddings(spark, sf)
    val q = emb.select(col("vec_id"), Similarity.quant(col("embedding")).as("v"))
    val vPurged = emb.where(col("vec_id") % 25 === 0)
      .select(col("vec_id")).as[Long].collect().toSet
    q.write.parquet(s"$root/vinc/batch_id=0")
    Governance.recordTombstones(spark, s"$root/vtomb",
      emb.where(col("vec_id") % 25 === 0).select(col("vec_id").as("purge_id")))
    q.where(col("vec_id") % 25 === 0).write.parquet(s"$root/vinc/batch_id=1")
    Similarity.compactVectorIndex(spark, s"$root/vinc", s"$root/vserving",
      tombstonePath = Some(s"$root/vtomb"))
    assert(spark.read.parquet(s"$root/vserving")
      .where(col("vec_id").isin(vPurged.toSeq: _*)).count() == 0,
      "tombstone-aware vector compaction served purged vec_ids")
  }

  test("tombstones hold through the IVF append-store compaction") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val vPurged = emb.where(col("vec_id") % 25 === 0)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(vPurged.nonEmpty && !vPurged.contains(1L))

    val root = util.TmpRoot("gov-tomb-ivf")
    val built = Similarity.buildIvfIndex(emb, nCells = 16)
    Similarity.writeIvfIndex(built, s"$root/base")
    built.unpersist()
    Governance.recordTombstones(spark, s"$root/tomb",
      emb.where(col("vec_id") % 25 === 0).select(col("vec_id").as("purge_id")))
    // the append store re-delivers the purged vectors post-takedown
    val cents = Similarity.readIvfCentroids(spark, s"$root/base")
    Similarity.assignCells(cents,
      emb.where(col("vec_id") % 25 === 0).select(col("vec_id"), col("embedding")))
      .write.partitionBy("cell").parquet(s"$root/appends/batch_id=0")
    Similarity.compactIvfAppendStore(spark, s"$root/base", s"$root/appends",
      s"$root/serving", tombstonePath = Some(s"$root/tomb"))
    val served = spark.read.parquet(s"$root/serving/assigned")
    assert(served.where(col("vec_id").isin(vPurged.toSeq: _*)).count() == 0,
      "tombstone-aware IVF compaction served purged vec_ids")
    // base rows outside the takedown set are intact
    assert(served.count() == emb.count() - vPurged.size)
    // and the ANN query path stays clean end to end
    val ix = Similarity.readIvfIndex(spark, s"$root/serving")
    val got = Similarity.ivfTopK(ix, queryVecId = 1L, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.size == 10 && got.intersect(vPurged).isEmpty)
  }

  test("purgeIncrementalDir rewrites batch-scoped stores minus the takedown set") {
    import spark.implicits._
    import graft.operators.Fts
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val purgedIds = docs.where(col("doc_id") % 50 === 0)
      .select(col("doc_id")).as[Long].collect().toSet
    val ids = docs.where(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("purge_id"))

    val root = util.TmpRoot("gov-tomb-incdir")
    Fts.termIndex(docs.where(col("doc_id") < 250), "doc_id", Seq("text"))
      .write.parquet(s"$root/inc/batch_id=0")
    Fts.termIndex(docs.where(col("doc_id") >= 250), "doc_id", Seq("text"))
      .write.parquet(s"$root/inc/batch_id=1")
    Governance.purgeIncrementalDir(spark, s"$root/inc", s"$root/purged",
      ids, idCol = "id")
    val out = spark.read.parquet(s"$root/purged")
    // purged ids gone from every batch partition; batch scoping preserved
    assert(out.where(col("id").isin(purgedIds.toSeq: _*)).count() == 0)
    assert(out.select("batch_id").distinct().as[Long].collect().toSet == Set(0L, 1L))
    val before = spark.read.parquet(s"$root/inc")
    assert(out.count() ==
      before.where(!col("id").isin(purgedIds.toSeq: _*)).count())
  }

  test("takedown purge drops owned rows from the stored gram index") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val root = util.TmpRoot("gov-gram")
    Dedup.writeGramIndex(docs, minLen = 10, s"$root/live")
    // purge doc 3 — the owner of the grams the probe batch's doc
    // 3000003 shares (its 40-token prefix)
    val ids = docs.where(col("doc_id") === 3).select(col("doc_id").as("purge_id"))
    Governance.purgeStoredGramIndex(spark, s"$root/live", s"$root/purged", ids)

    val purged = Dedup.readGramIndex(spark, s"$root/purged")
    // no ownership row of the purged doc survives; meta (min_len) intact
    assert(purged.grams.where(col("min_doc") === 3).count() == 0)
    assert(purged.minLen == 10)
    val live = Dedup.readGramIndex(spark, s"$root/live")
    assert(purged.grams.count() ==
      live.grams.where(col("min_doc") =!= 3).count())
    // the probe path serves from the purged store: spans owned by the
    // purged doc are gone (conservative recall loss, documented), every
    // OTHER batch doc's spans are untouched
    def spans(ix: Dedup.StoredGramIndex) =
      Dedup.dupSpansAgainstIndex(ix, Dedup.spanBatchOf(docs)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val before = spans(live)
    val after = spans(purged)
    assert(after.subsetOf(before), "purge must never ADD spans")
    assert(before.filterNot(_._1 == 3000003L) == after.filterNot(_._1 == 3000003L),
      "purge changed spans of documents unrelated to the takedown")
  }

  test("owners-sidecar gram purge equals a from-scratch rebuild, with no re-gram") {
    // The withOwners store makes takedown EXACT: purging via the
    // distinct (gh, doc_id) posting + min re-election must produce the
    // IDENTICAL rollup a full rebuild over the purged corpus would —
    // including re-owning grams the purged doc shared with survivors
    // (the recall the conservative path loses) and dropping grams whose
    // every occurrence was purged.
    // Plant a surviving clone of doc 3 (id 500000) so the takedown hits
    // a gram set that provably lives on in another document.
    val base = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val docs = base.unionByName(base.where(col("doc_id") === 3)
      .select(lit(500000L).as("doc_id"), col("text")))
    val root = util.TmpRoot("gov-gram-owners")
    Dedup.writeGramIndex(docs, minLen = 10, s"$root/live", withOwners = true)
    val ids = docs.where(col("doc_id") === 3).select(col("doc_id").as("purge_id"))
    Governance.purgeStoredGramIndex(spark, s"$root/live", s"$root/purged", ids)
    Dedup.writeGramIndex(docs.where(col("doc_id") =!= 3), minLen = 10,
      s"$root/rebuilt")

    val purged = Dedup.readGramIndex(spark, s"$root/purged")
    val rebuilt = Dedup.readGramIndex(spark, s"$root/rebuilt")
    assert(purged.minLen == 10 && purged.nBuckets == rebuilt.nBuckets)
    // row-identical rollups (both directions of the anti-join empty)
    val cols = Seq("gh", "min_doc", "bucket")
    assert(purged.grams.selectExpr(cols: _*)
      .exceptAll(rebuilt.grams.selectExpr(cols: _*)).isEmpty)
    assert(rebuilt.grams.selectExpr(cols: _*)
      .exceptAll(purged.grams.selectExpr(cols: _*)).isEmpty)
    // shared boilerplate got RE-OWNED, not dropped: doc 3's 40-token
    // prefix also lives in probe twin 3000003's text family, so at
    // least one gram must have a new (surviving) owner rather than
    // vanishing — the exactness the conservative path can't give.
    val live = Dedup.readGramIndex(spark, s"$root/live")
    val reowned = live.grams.where(col("min_doc") === 3)
      .select("gh").join(purged.grams.select("gh"), Seq("gh"), "left_semi")
    assert(reowned.count() > 0,
      "expected at least one gram re-elected to a surviving owner")
    // serving equality: probes against the purged store answer exactly
    // as against the rebuilt store
    def spans(ix: Dedup.StoredGramIndex) =
      Dedup.dupSpansAgainstIndex(ix, Dedup.spanBatchOf(docs)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans(purged) == spans(rebuilt))
    spark.catalog.clearCache()
  }

  test("takedown purge removes tokens, prefix rows, AND pairs from the stored prefix-join index") {
    import spark.implicits._
    val root = util.TmpRoot("gov-pfx")
    val slice = Tables.documents(spark, sf).where(col("doc_id") < 120)
      .select(col("doc_id"), col("text"))
    // clone doc 7 at 1000007: a guaranteed Jaccard-1.0 pair CITING the
    // doc about to be purged, so the pairs-table purge is actually
    // exercised (the raw corpus may give doc 7 no pairs of its own)
    val clone7 = slice.where(col("doc_id") === 7)
      .select(lit(1000007L).as("doc_id"), col("text"))
    Dedup.writePrefixIndex(slice.unionByName(clone7), s"$root/live")
    val livePairs = Dedup.readPrefixJoinPairs(spark, s"$root/live").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(livePairs.contains((7L, 1000007L)),
      s"live store must contain the planted clone pair: $livePairs")

    val ids = Seq(7L, 1000007L).toDF("purge_id")
    Governance.purgeStoredPrefixIndex(spark, s"$root/live", s"$root/purged", ids)
    // 1. the content tables hold no trace of the purged ids — including
    // the ids delivery sidecar, whose survivors would keep a winners-
    // frame row alive for a document with no token rows (r19)
    val purgedToks = spark.read.parquet(s"$root/purged/toks")
    val purgedPfx = spark.read.parquet(s"$root/purged/pfx")
    val purgedIdsDir = spark.read.parquet(s"$root/purged/ids")
    assert(purgedToks.where(col("doc_id").isin(7L, 1000007L)).count() == 0)
    assert(purgedPfx.where(col("doc_id").isin(7L, 1000007L)).count() == 0)
    assert(purgedIdsDir.where(col("doc_id").isin(7L, 1000007L)).count() == 0,
      "purge missed the ids delivery sidecar")
    // 2. no pair cites a purged id on EITHER side
    val purgedPairs = Dedup.readPrefixJoinPairs(spark, s"$root/purged").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(purgedPairs.forall { case (a, b) =>
      a != 7L && b != 7L && a != 1000007L && b != 1000007L })
    // 3. serving equality: the purged store equals a from-scratch join
    // over the takedown complement — nothing over-purged either
    val expected = Dedup.prefixJaccardJoin(slice.where(col("doc_id") =!= 7))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(purgedPairs == expected,
      s"extra=${purgedPairs -- expected} missing=${expected -- purgedPairs}")
    // 4. the frozen order model survives (further increments keep pruning)
    assert(spark.read.parquet(s"$root/purged/freq").count() ==
      spark.read.parquet(s"$root/live/freq").count())
    spark.catalog.clearCache()
  }
}
