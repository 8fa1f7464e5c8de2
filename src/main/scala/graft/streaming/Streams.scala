package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming surface — SURVEY §2.9.
  *
  * The reference's incremental model is a scheduled micro-batch with a
  * high-watermark (sync.ts:177-212), which maps to Trigger.AvailableNow
  * over a file source + foreachBatch upsert. Each maintainer here lands
  * its micro-batch's rows in a batch_id-scoped directory, so a retried
  * batch replaces its own output. [[eventStream]] is the streaming read
  * of the events table, normalizing the same `ts` encodings as
  * Tables.events.
  */
object Streams {

  /** File-source stream of event parquet. Structured Streaming needs a
    * declared schema, but the PHYSICAL encoding of `ts` has varied across
    * testdata generations (TIMESTAMP(NANOS) → LongType under nanosAsLong,
    * vs TIMESTAMP(MICROS) → native TimestampType), so hardcoding either
    * breaks on the other. Probe the footer of the files already present
    * with one batch read (schema-only — no data scan) and declare the
    * stream schema to match, then normalize exactly like the batch path
    * (Tables.events): LongType nanos ⇒ exact integer `div 1000` to
    * micros; TimestampType ⇒ pass through. Files arriving later must
    * match the probed encoding — mixed encodings within ONE stream need
    * a per-generation source union upstream.
    *
    * An EMPTY source directory (no parquet footers yet — a normal
    * startup state for a file-source stream) has nothing to probe:
    * `spark.read.parquet` throws `Unable to infer schema`. Fall back to
    * the current-generation default (native TIMESTAMP(MICROS) ⇒
    * TimestampType) so the stream can start before the first file
    * lands; the probed-or-defaulted encoding is pinned for the stream's
    * lifetime either way. */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val physical =
      try spark.read.parquet(dir).schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException => TimestampType }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", physical),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val raw = spark.readStream.schema(schema).parquet(dir)
    physical match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other")
    }
  }

  /** Incremental MinHash-LSH index maintenance — the dedup analog of the
    * FTS index upkeep (S6): documents arrive in micro-batches, each batch
    * computes its shingle+signature rows ONCE (via the same
    * Dedup.signatureFrame/bandedOf/verifyJaccard the batch algorithm
    * uses, so the two paths cannot drift), candidate pairs are only
    * NEW-vs-(old ∪ new) band collisions, and the historical band scan is
    * semi-join-pruned to the bands the new batch actually touches.
    * Verified pairs and the batch's signature rows land in
    * batchId-scoped subdirectories written with overwrite — a retried
    * micro-batch REPLACES its own output instead of appending a second
    * copy, so the sink is idempotent under failure/retry.
    *
    * Cost shape: candidate generation scales with batch size × occupancy
    * of the touched bands (after pruning), not corpus size; the
    * verification joins hash-shuffle the index's signature frame — at
    * real scale store the index bucketed by doc_id (`bucketBy` on write)
    * to make those joins shuffle-free. Pairs found by
    * earlier batches cannot re-emit: a candidate requires one side from
    * the current batch.
    *
    * A doc_id RE-DELIVERED in a later batch is handled LWW like the
    * prefix-join maintainer (round-20, lifecycle parity): the stored
    * read resolves to each doc's latest revision and rows of ids
    * re-delivered in THIS batch are superseded
    * ([[graft.operators.Dedup.minhashIncrementalBatch]]'s two layers),
    * so post-re-delivery batches verify against current signatures
    * only; the stale pairs earlier batches recorded die at compaction
    * ([[graft.operators.Dedup.compactMinhashIndex]] /
    * [[graft.operators.Dedup.compactMinhashPairs]], batch_id LWW) or
    * at the LWW serving read
    * ([[graft.operators.Dedup.readIncrementalMinhashPairsLww]]). The
    * d2c/d2d gates pin the whole lifecycle against the full MinHash
    * replay oracle.
    */
  def incrementalMinhashIndex(spark: SparkSession, sourceDir: String,
                              indexDir: String, pairsDir: String,
                              checkpointDir: String,
                              threshold: Double = 0.5): Unit = {
    import graft.operators.Dedup
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val q = spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val newSh = Dedup.signatureFrame(batch).persist()
        // Existence probe, not a broad catch: a transient read failure
        // must fail the batch (checkpoint retries it) — treating it as
        // "empty index" would silently and PERMANENTLY lose every
        // new-vs-old pair of this batch.
        val idxPath = new org.apache.hadoop.fs.Path(indexDir)
        val idxExists = idxPath
          .getFileSystem(s.sparkContext.hadoopConfiguration).exists(idxPath)
        val storedRaw =
          if (idxExists) s.read.parquet(indexDir)
            .select("doc_id", "sh", "sig", "batch_id")
          else s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            newSh.schema.add("batch_id", LongType))
        // Re-deliveries are legal (round-20): the batch plan's two-layer
        // LWW stored read supersedes stored revisions of re-delivered
        // ids inside the join; their stale rows in earlier batch dirs
        // die at compaction (Dedup.compactMinhashIndex/Pairs) or at the
        // LWW serving read (Dedup.readIncrementalMinhashPairsLww).
        // Count + log loudly, like incrementalPrefixJoin.
        if (idxExists) {
          val redelivered = storedRaw.select("doc_id").distinct()
            .join(newSh.select("doc_id"), Seq("doc_id"), "left_semi").count()
          if (redelivered > 0)
            // scalastyle:off println
            System.err.println(s"[incrementalMinhashIndex] batch $batchId " +
              s"re-delivers $redelivered doc_id(s): stored revisions are " +
              "superseded in this join; compact (or serve via " +
              "Dedup.readIncrementalMinhashPairsLww) so their stale pairs " +
              "do not serve")
            // scalastyle:on println
        }
        Dedup.minhashIncrementalBatch(newSh, storedRaw, threshold)
          .write.mode("overwrite").parquet(s"$pairsDir/batch_id=$batchId")
        newSh.write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
        newSh.unpersist()
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Incremental SimHash fingerprint maintenance — the missing member
    * of the incremental-index family (MinHash, FTS term, vector LSH),
    * keeping the m5/m6 media-fingerprint serving store fresh between
    * full rebuilds. Each micro-batch fingerprints ONLY its own rows
    * through the same Dedup.simhashFrame / simhashBanded /
    * verifyHamming the batch path uses (the two cannot drift),
    * candidate pairs are NEW-vs-(old ∪ new) band collisions with the
    * historical scan semi-join-pruned to the bands the batch touches
    * (Manku 4×16-bit pigeonhole blocking — full recall for
    * Hamming <= 3), and both sinks land batchId-scoped with overwrite,
    * so a retried micro-batch REPLACES its own output — idempotent
    * under failure/retry. Per-batch cost follows touched-band
    * occupancy, never history size. A doc_id RE-DELIVERED in a later
    * batch is handled LWW like the prefix-join maintainer (round-20,
    * lifecycle parity): the stored read resolves to each doc's latest
    * revision and rows of ids re-delivered in THIS batch are
    * superseded ([[graft.operators.Dedup.simhashIncrementalBatch]]'s
    * two layers), so post-re-delivery batches verify against current
    * fingerprints only; the stale pairs earlier batches recorded die
    * at compaction ([[graft.operators.Dedup.compactSimhashIndex]] /
    * [[graft.operators.Dedup.compactSimhashPairs]], batch_id LWW —
    * tombstoned ids suppressed outright) or at the LWW serving read
    * ([[graft.operators.Dedup.readIncrementalSimhashPairsLww]]). The
    * d3c/d3d gates pin the whole lifecycle against the brute-force
    * oracle. */
  def incrementalSimhashIndex(spark: SparkSession, sourceDir: String,
                              indexDir: String, pairsDir: String,
                              checkpointDir: String,
                              maxHamming: Int = 3): Unit = {
    import graft.operators.Dedup
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val q = spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val newSims = Dedup.simhashFrame(batch).persist()
        // Existence probe, not a broad catch (see incrementalMinhashIndex):
        // a transient read failure must fail the batch, not silently drop
        // every new-vs-old pair.
        val idxPath = new org.apache.hadoop.fs.Path(indexDir)
        val idxExists = idxPath
          .getFileSystem(s.sparkContext.hadoopConfiguration).exists(idxPath)
        val storedRaw =
          if (idxExists) s.read.parquet(indexDir)
            .select("doc_id", "sim", "batch_id")
          else s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            newSims.schema.add("batch_id", LongType))
        // Re-deliveries: two-layer LWW stored read inside the batch plan
        // (Dedup.simhashIncrementalBatch); stale rows die at compaction
        // or the LWW serving read. Count + log loudly.
        if (idxExists) {
          val redelivered = storedRaw.select("doc_id").distinct()
            .join(newSims.select("doc_id"), Seq("doc_id"), "left_semi").count()
          if (redelivered > 0)
            // scalastyle:off println
            System.err.println(s"[incrementalSimhashIndex] batch $batchId " +
              s"re-delivers $redelivered doc_id(s): stored revisions are " +
              "superseded in this join; compact (or serve via " +
              "Dedup.readIncrementalSimhashPairsLww) so their stale pairs " +
              "do not serve")
            // scalastyle:on println
        }
        Dedup.simhashIncrementalBatch(newSims, storedRaw, maxHamming)
          .write.mode("overwrite").parquet(s"$pairsDir/batch_id=$batchId")
        newSims.write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
        newSims.unpersist()
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Incremental FTS term-index maintenance — the streaming analog of
    * the reference's FTS5 triggers (migrations/0002_fts.sql:17-34: every
    * INSERT/UPDATE delta-maintains the inverted index), mirroring
    * [[incrementalMinhashIndex]]. Each micro-batch tokenizes ONLY its own
    * rows through the same Fts.termIndex the batch build (S6) uses — the
    * two paths cannot drift — and lands them in a batchId-scoped
    * subdirectory written with overwrite, so a retried micro-batch
    * REPLACES its own output and the sink is idempotent under
    * failure/retry. An updated document simply arrives again in a later
    * batch; readers resolve the latest revision per id
    * (Fts.readIncrementalIndex), which is the trigger world's
    * DELETE+INSERT expressed as last-writer-wins — per-batch work is
    * O(batch), never a historical rewrite. */
  def incrementalFtsIndex(spark: SparkSession, sourceDir: String,
                          indexDir: String, checkpointDir: String): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val q = spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Fts.termIndex(batch, "doc_id", Seq("text"))
          .write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Streaming ANN/near-dup ingest — the vector analog of
    * [[incrementalMinhashIndex]], completing the incremental-maintenance
    * trio (MinHash, FTS term, vector LSH). Each micro-batch quantizes
    * ONLY its own embeddings through the same quant + multi-table
    * hyperplane banding the batch path uses (Similarity.bandFrame — the
    * two cannot drift), generates candidates from new-vs-all band
    * collisions with the historical scan semi-join-pruned to the bands
    * the batch touches, verifies with the shared exact integer-cosine
    * rerank, and appends its signatures to a batchId-scoped index
    * partition written with overwrite — a retried micro-batch REPLACES
    * its own output, so both sinks are idempotent under failure/retry.
    * Per-batch cost follows touched-band occupancy, never history size.
    *
    * A vec_id RE-DELIVERED in a later micro-batch is handled LWW like
    * the prefix-join maintainer (round-20, lifecycle parity): the
    * stored read resolves to each vec's latest revision and rows of
    * ids re-delivered in THIS batch are superseded
    * ([[graft.operators.Similarity.vectorIncrementalBatch]]'s two
    * layers) — without that, a pair found AFTER the re-delivery would
    * verify against both revisions and emit one row per revision, both
    * carrying the later batch's id, which no downstream LWW rule can
    * repair. The stale rows earlier batches left behind die at
    * compaction (`Similarity.compactVectorIndex` /
    * `Similarity.compactVectorPairs`, batch_id LWW) or at the LWW
    * serving read (`Similarity.readIncrementalVectorPairsLww`). The
    * d5c/d5d gates pin the whole lifecycle against the LSH-replay
    * oracle. */
  def incrementalVectorIndex(spark: SparkSession, sourceDir: String,
                             indexDir: String, pairsDir: String,
                             checkpointDir: String,
                             threshold: Double = 0.9): Unit = {
    import graft.operators.Similarity
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val q = spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val newQ = batch
          .select(col("vec_id"), Similarity.quant(col("embedding")).as("v"))
          .persist()
        // Existence probe, not a broad catch (see incrementalMinhashIndex):
        // a transient read failure must fail the batch, not silently drop
        // every new-vs-old pair.
        val idxPath = new org.apache.hadoop.fs.Path(indexDir)
        val idxExists = idxPath
          .getFileSystem(s.sparkContext.hadoopConfiguration).exists(idxPath)
        val storedRaw =
          if (idxExists) s.read.parquet(indexDir)
            .select("vec_id", "v", "batch_id")
          else s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            newQ.schema.add("batch_id", LongType))
        // Re-deliveries: two-layer LWW stored read inside the batch plan
        // (Similarity.vectorIncrementalBatch); stale rows die at
        // compaction or the LWW serving read. Count + log loudly.
        if (idxExists) {
          val redelivered = storedRaw.select("vec_id").distinct()
            .join(newQ.select("vec_id"), Seq("vec_id"), "left_semi").count()
          if (redelivered > 0)
            // scalastyle:off println
            System.err.println(s"[incrementalVectorIndex] batch $batchId " +
              s"re-delivers $redelivered vec_id(s): stored revisions are " +
              "superseded in this join; compact (or serve via " +
              "Similarity.readIncrementalVectorPairsLww) so their stale " +
              "pairs do not serve")
            // scalastyle:on println
        }
        Similarity.vectorIncrementalBatch(newQ, storedRaw, threshold)
          .write.mode("overwrite").parquet(s"$pairsDir/batch_id=$batchId")
        newQ.write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
        newQ.unpersist()
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Streaming IVF index freshness — assign NEWLY ARRIVING vectors to
    * the cells of a FROZEN, nightly-trained model. Retraining cadence
    * is a policy knob, but between retrains every arriving vector must
    * be retrievable NOW, and frozen-model assignment gives exactly
    * that at map-side cost: the O(model) centroid table loads once on
    * the driver, each micro-batch is one shuffle-free pass through the
    * shared `Similarity.assignCells` (the identical code path the
    * batch build uses — the two cannot drift), and the output lands
    * batch_id-scoped (a retried micro-batch REPLACES its own
    * directory — idempotent) and cell-partitioned beneath it, so probe
    * queries prune cells across the whole append store exactly as
    * against the base index. Serving = IvfIndex(frozen centroids,
    * base assigned ∪ this store); StreamingSpec pins that the combined
    * store answers identically to a batch frozen-model assignment of
    * the full corpus. ID contract: batches disjoint in vec_id (the
    * incrementalVectorIndex contract); re-deliveries resolve at
    * compaction by batch_id LWW. */
  def incrementalIvfAssign(spark: SparkSession, sourceDir: String,
                           ivfIndexPath: String, outDir: String,
                           checkpointDir: String): Unit = {
    import graft.operators.Similarity
    val cents = Similarity.readIvfCentroids(spark, ivfIndexPath)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val q = spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Similarity.assignCells(cents, batch.select(col("vec_id"), col("embedding")))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Streaming EXACT prefix-join maintenance (d34b — the exact-dedup
    * counterpart of [[incrementalVectorIndex]]'s probabilistic LSH
    * path): NEWLY ARRIVING documents are joined against everything
    * already ingested with the full AllPairs prefix/length/verify
    * pipeline, under the FROZEN gram order stored at base-build time
    * (graft.operators.Dedup.writePrefixIndex). The frozen order is the
    * correctness keystone: the prefix theorem needs one CONSISTENT
    * total order across both sides of a pair, so every batch replays
    * the stored frequency model (unseen grams read cnt 0) rather than
    * recounting — a stale order only densifies prefix buckets, it can
    * never lose a pair. Per micro-batch: the stored prefix rows are
    * semi-join-pruned to the batch's own gram set before the candidate
    * join (the new-vs-old pruning of the MinHash/vector maintainers),
    * new-new pairs canonicalize (least, greatest) and dedupe, and the
    * verified pairs + the batch's prefix rows + token sets land
    * batch_id-scoped (a retried micro-batch REPLACES its own directory
    * — idempotent). ID contract: doc_ids unique WITHIN a micro-batch;
    * a doc_id RE-DELIVERED in a later batch is handled LWW like every
    * other served index family (Streams.scala:269/394/460/557): the
    * batch's rows supersede the stored delivery inside this join (the
    * stored toks/pfx rows of re-delivered ids are anti-joined out, so
    * the new revision verifies against current token sets only — never
    * two token sets for one doc_id), re-delivered ids are counted and
    * logged loudly, and the stale pairs the superseded revision left
    * in earlier batch directories are dropped by
    * [[graft.operators.Dedup.compactPrefixIndex]]'s batch_id-LWW rule
    * before serving. For an append-only id stream the accumulated
    * pairs directory equals the one-shot batch join of the final
    * corpus as-is — exactly what the d34b gate's oracle checks; with
    * re-deliveries the COMPACTED store equals it — the d34c gate. */
  def incrementalPrefixJoin(spark: SparkSession, sourceDir: String,
                            indexPath: String, checkpointDir: String,
                            tNum: Int = graft.operators.Dedup.PrefixJaccardNum,
                            tDen: Int = graft.operators.Dedup.PrefixJaccardDen): Unit = {
    import graft.operators.Dedup
    // Backfill the `ids` delivery sidecar for stores written before it
    // existed (one winners pass over the token directory, paid ONCE per
    // legacy store — never per micro-batch): each stored doc lands one
    // (doc_id) row in its winning batch's partition, which preserves
    // every later winners derivation exactly. The backfill is COMMITTED
    // by an atomic directory rename (round-19 advice): a write job that
    // crashes after creating `ids` but before landing every file would
    // otherwise pass the existence probe on the next run and silently
    // serve a PARTIAL winners frame — dropping stored docs from the
    // stored side, the LWW read, and compaction.
    val idsDir = new org.apache.hadoop.fs.Path(s"$indexPath/ids")
    val idsFs = idsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!idsFs.exists(idsDir)) {
      val tmp = new org.apache.hadoop.fs.Path(s"$indexPath/ids.backfill.tmp")
      idsFs.delete(tmp, true) // a crashed earlier attempt is garbage
      spark.read.parquet(s"$indexPath/toks")
        .groupBy("doc_id").agg(max(col("batch_id")).as("batch_id"))
        .write.partitionBy("batch_id").mode("overwrite").parquet(tmp.toString)
      require(idsFs.rename(tmp, idsDir),
        s"incrementalPrefixJoin: ids sidecar backfill rename $tmp -> $idsDir failed")
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val q = spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val newToks = Dedup.prefixTokens(batch).persist()
        val newIds = newToks.select("doc_id")
        // The frozen order model is corpus-vocabulary-sized; the batch
        // only consults the rows its own grams hit, so semi-join-prune
        // it to the batch's token set BEFORE the prefix derivation's
        // left join (semantically identity: grams absent from `freq`
        // read cnt 0 whether the row was never frozen or pruned here) —
        // otherwise every micro-batch shuffles the full vocabulary.
        val frozen = s.read.parquet(s"$indexPath/freq")
          .join(newToks.select(explode(col("tk")).as("token")).distinct(),
            Seq("token"), "left_semi")
        val newPfx = Dedup.prefixRows(newToks, frozen, tNum, tDen).persist()
        // LWW within the join, in TWO layers: (a) the stored read
        // itself resolves to each doc's LATEST stored revision (a doc
        // re-delivered in an EARLIER batch left both revisions' rows
        // in the batch_id dirs — without this, a pair found in a LATER
        // batch would verify against both token sets and emit one row
        // per revision, and compaction would keep both because both
        // carry the later batch's id); (b) stored rows of ids
        // RE-DELIVERED IN THIS BATCH are superseded by the batch's own
        // revision — dropped from the candidate side (stale sz would
        // only mis-prune) and the verify token sets. The winners frame
        // backing both layers reads the O(deliveries) `ids` sidecar
        // (Dedup.prefixWinners), NOT the token directory — the round-18
        // per-batch full-store aggregation this round removed; it is
        // doc-id-keyed two-column rows, persisted across its three
        // consumers within the batch.
        val storedLast = Dedup.prefixWinners(s, indexPath).persist()
        val storedToks = s.read.parquet(s"$indexPath/toks")
          .join(storedLast, Seq("doc_id"))
          .where(col("batch_id") === col("last_b"))
          .select("doc_id", "tk")
        val redelivered = storedLast
          .join(newIds, Seq("doc_id"), "left_semi").count()
        if (redelivered > 0)
          // scalastyle:off println
          System.err.println(s"[incrementalPrefixJoin] batch $batchId " +
            s"re-delivers $redelivered doc_id(s): stored revisions are " +
            "superseded in this join; run Dedup.compactPrefixIndex (or " +
            "serve via Dedup.readPrefixJoinPairsLww) so their stale " +
            "pairs do not serve")
          // scalastyle:on println
        val oldPfx = s.read.parquet(s"$indexPath/pfx")
          .join(storedLast, Seq("doc_id"))
          .where(col("batch_id") === col("last_b"))
          .select("doc_id", "sz", "token")
          .join(newIds, Seq("doc_id"), "left_anti")
          .join(newPfx.select("token").distinct(), Seq("token"), "left_semi")
        val cand = newPfx.as("a")
          .join(oldPfx.unionByName(newPfx.select("doc_id", "sz", "token")).as("b"),
            col("a.token") === col("b.token") &&
              col("a.doc_id") =!= col("b.doc_id") &&
              col("a.sz") * tNum <= col("b.sz") * tDen &&
              col("b.sz") * tNum <= col("a.sz") * tDen)
          .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
          .distinct()
          .persist()
        // Verify gathers touch only candidate PARTICIPANTS: the stored
        // token read is semi-join-pruned to ids the batch's candidates
        // actually cite before it becomes the hash-join build side —
        // an inner-join no-op semantically (verifyJaccard drops
        // non-candidates anyway), but it bounds the per-batch hash
        // build at O(candidate docs) instead of O(corpus token rows).
        val candIds = cand.select(col("doc_a").as("doc_id"))
          .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
        val allToks = storedToks
          .join(newIds, Seq("doc_id"), "left_anti")
          .join(candIds, Seq("doc_id"), "left_semi")
          .unionByName(newToks)
        Dedup.verifyJaccard(cand, allToks, allToks, tNum, tDen)
          .write.mode("overwrite").parquet(s"$indexPath/pairs/batch_id=$batchId")
        newPfx.select("doc_id", "sz", "token")
          .write.mode("overwrite").parquet(s"$indexPath/pfx/batch_id=$batchId")
        newToks.write.mode("overwrite").parquet(s"$indexPath/toks/batch_id=$batchId")
        newIds.write.mode("overwrite").parquet(s"$indexPath/ids/batch_id=$batchId")
        newPfx.unpersist(); newToks.unpersist(); cand.unpersist()
        storedLast.unpersist()
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Streaming MAXSIM TOKEN-STORE freshness (round-17: the n41b serving
    * store gains the s6b/incrementalIvfAssign maintenance path). A
    * document's multi-vector TOKEN set is derived INSIDE the stream by
    * the same [[graft.operators.Similarity.maxsimTokens]] the batch
    * build uses (the two cannot drift), then assigned to the cells of
    * the FROZEN nightly token model — one shuffle-free map pass per
    * micro-batch, landing batch_id-scoped and cell-partitioned exactly
    * like the IVF assigner, so the served probe prunes cells across
    * base ∪ appends unchanged. Re-deliveries resolve at compaction by
    * batch_id LWW ([[graft.operators.Similarity.compactIvfAppendStore]]
    * — token ids are doc-derived, so a re-delivered document replaces
    * ALL its token rows). The n41c gate proves the whole lifecycle:
    * a two-batch incremental build + compaction must answer the n41
    * maxsim oracle row-identically to the one-shot batch store. */
  def incrementalMaxsimTokenStore(spark: SparkSession, sourceDir: String,
                                  ivfIndexPath: String, outDir: String,
                                  checkpointDir: String): Unit = {
    import graft.operators.Similarity
    val cents = Similarity.readIvfCentroids(spark, ivfIndexPath)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val q = spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val toks = Similarity.maxsimTokens(
          batch.select(col("vec_id"), col("embedding")))
          .select(col("token_id").as("vec_id"), col("tv").as("embedding"))
        Similarity.assignCells(cents, toks)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Streaming PQ code freshness — encode NEWLY ARRIVING vectors against
    * the FROZEN codebooks of a nightly-trained stored PQ index
    * (writePqIndex layout), completing lifecycle parity with the
    * MinHash/SimHash/FTS/IVF families: every index the engine serves
    * from now has incremental maintenance + compaction to the serving
    * layout. The O(model) codebook table loads once on the driver
    * (Similarity.readPqCodebooks); each micro-batch is one shuffle-free
    * pass through the SAME Similarity.pqEncode the batch build uses (the
    * two cannot drift), landing batch_id-scoped M-byte code arrays — a
    * retried micro-batch REPLACES its own directory, so the sink is
    * idempotent. Serving = PqIndex(frozen books, base codes ∪ this
    * store); re-deliveries resolve at compaction by batch_id LWW
    * (Similarity.compactPqAppendStore, tombstone-aware). Codebooks stay
    * frozen through compaction by design: recoding against a retrained
    * model would silently shift every historical ADC score, so model
    * refresh is an explicit nightly rebuild, never a side effect. */
  def incrementalPqEncode(spark: SparkSession, sourceDir: String,
                          pqIndexPath: String, outDir: String,
                          checkpointDir: String): Unit = {
    import graft.operators.Similarity
    val books = Similarity.readPqCodebooks(spark, pqIndexPath)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val q = spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Similarity.pqEncode(books, batch.select(col("vec_id"), col("embedding")))
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Streaming residual-code freshness (the n37b maintainer): encode
    * NEWLY ARRIVING vectors against the FROZEN centroids + residual
    * codebooks of a stored residual IVF-PQ index — the read validates
    * the encoding marker, so a raw n8b store can never silently feed
    * this path. Each micro-batch is one shuffle-free pass through the
    * SAME [[graft.operators.Similarity.residualEncode]] the batch
    * build uses (the two cannot drift), landing batch_id-scoped
    * cell-partitioned codes; a retried micro-batch replaces its own
    * directory — idempotent. Serving happens after
    * [[graft.operators.Similarity.compactIvfPqResidualStore]] folds
    * the deltas (per-vector LWW on batch_id, tombstone filter) into a
    * fresh marker-carrying store. */
  def incrementalIvfPqResidualEncode(spark: SparkSession, sourceDir: String,
                                     indexPath: String, outDir: String,
                                     checkpointDir: String): Unit = {
    import graft.operators.Similarity
    val stored = Similarity.readIvfPqResidualIndex(spark, indexPath)
    val cents = stored.centroids
    val books = stored.books
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val q = spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Similarity.residualEncode(cents, books,
            batch.select(col("vec_id"), col("embedding")))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Incremental gram-index maintenance (the d21 substring-dedup
    * store): each micro-batch grams ONLY its own rows through the
    * shared [[graft.operators.Dedup.gramFrame]] and lands its
    * per-batch (gh, min_doc) ownership batch_id-scoped — idempotent
    * overwrite, same contract as every incremental index here.
    * Serving happens after [[graft.operators.Dedup.compactGramIndex]]
    * folds the deltas (min-of-mins ownership merge — associative, so
    * batch split never changes the result) into the bucket-partitioned
    * layout [[graft.operators.Dedup.dupSpansAgainstIndex]] probes. */
  def incrementalGramIndex(spark: SparkSession, sourceDir: String,
                           indexDir: String, checkpointDir: String,
                           minLen: Int,
                           ownersDir: Option[String] = None): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val q = spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // With an owners sink, the batch's DISTINCT (gh, doc_id)
        // posting lands next to the rollup (one shared gram pass, the
        // writeGramIndex(withOwners) discipline) — the deltas that let
        // compaction build a purge-exact store for a STREAMED corpus.
        val grams = graft.operators.Dedup.gramFrame(batch, minLen)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        ownersDir.foreach { od =>
          grams.select(col("gh"), col("doc_id")).distinct()
            .write.mode("overwrite").parquet(s"$od/batch_id=$batchId")
        }
        grams.groupBy("gh").agg(min(col("doc_id")).as("min_doc"))
          .write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
        grams.unpersist()
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Incremental linkage-index maintenance (the d25 record-linkage
    * store): each micro-batch computes ONLY its own rows' (doc_id, bk,
    * sig) keys through the shared
    * [[graft.operators.Dedup.linkageKeyRows]] and lands them
    * batch_id-scoped — idempotent overwrite, same contract as every
    * incremental index here. Serving happens after
    * [[graft.operators.Dedup.compactLinkageIndex]] folds the deltas
    * (last-writer-wins per doc_id on batch_id — keys are per-doc rows,
    * so re-delivery and corrected re-crawls resolve deterministically,
    * and takedown purge is a row filter at compaction) into the
    * bucket-partitioned layout
    * [[graft.operators.Dedup.linkAgainstIndex]] probes. */
  def incrementalLinkageIndex(spark: SparkSession, sourceDir: String,
                              indexDir: String, checkpointDir: String): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val q = spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup.linkageKeyRows(batch)
          .write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
        ()
      }
      .start()
    q.awaitTermination()
  }
}
