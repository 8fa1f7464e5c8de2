package graft.operators

import java.io.FileNotFoundException
import org.apache.hadoop.fs.Path
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.functions.Cols

/** Full-text search subsystem — SURVEY §2.8.
  *
  * The reference uses an FTS5 contentless-delegate table over 8 text
  * columns with `unicode61 remove_diacritics 1` tokenization and
  * prefix-AND MATCH queries (migrations/0002_fts.sql:1-13,
  * src/lib/db/entries.ts:12-26). The Spark-native design is a derived
  * inverted term index `(id, term)` + semi-join:
  *
  *   - Index build: diacritic-fold -> lower -> split on non-alnum ->
  *     explode -> distinct. Recomputed per batch (replaces FTS5's
  *     triggers, 0002_fts.sql:17-34); at scale it is written bucketed
  *     BY (term) so prefix probes touch few buckets.
  *   - Query: each prefix term becomes a range predicate
  *     [prefix, prefix + U+10FFFF) against the SORTED term column —
  *     sargable, so parquet min/max pruning and bucket pruning apply,
  *     unlike a contains() scan. AND-of-terms = count of distinct
  *     matched prefixes per id == nTerms, then a left-semi join back.
  */
object Fts {

  /** S6 — build the inverted term index over arbitrary text columns. */
  def termIndex(docs: DataFrame, idCol: String, textCols: Seq[String]): DataFrame = {
    val joined = concat_ws(" ", textCols.map(col): _*)
    docs.select(col(idCol).as("id"), explode(Cols.ftsTokens(joined)).as("term"))
      .distinct()
  }

  /** Range predicate for one prefix over the term column (sargable). */
  private def prefixPred(term: Column, prefix: String): Column =
    term >= prefix && term < (prefix + "􏿿")

  /** P6 — ids whose terms match EVERY prefix (FTS5 `a* AND b*`). */
  def matchingIds(index: DataFrame, prefixes0: Seq[String]): DataFrame = {
    // Dedupe first: 'new new' must need only one hit. And a term can hit
    // SEVERAL prefixes at once ('news' hits both 'new' and 'news'), so
    // each row emits the array of ALL prefixes it matches — crediting
    // only the first match would make n_hit unable to ever reach
    // prefixes.size when one query prefix is a prefix of another.
    val prefixes = prefixes0.distinct
    require(prefixes.nonEmpty)
    val hits = filter(
      array(prefixes.map(p => when(prefixPred(col("term"), p), lit(p))): _*),
      _.isNotNull)
    index
      .where(prefixes.map(p => prefixPred(col("term"), p)).reduce(_ || _))
      .select(col("id"), explode(hits).as("hit_prefix"))
      .groupBy("id")
      .agg(countDistinct(col("hit_prefix")).as("n_hit"))
      .where(col("n_hit") === prefixes.size)
      .select("id")
  }

  /** BM25 ranking over the documents corpus — beyond the reference's
    * membership-only MATCH (entries.ts:25 never ORDER BY rank), the
    * standard relevance scorer a search surface at scale needs.
    * Distributed shape: token counts are computed ONLY for the query's
    * terms (the filter precedes the groupBy, so the explode output
    * shrinks to hits), document frequencies and the average length are
    * O(terms) / O(1) broadcast scalars, and the score is a FIXED-SHAPE
    * double expression per term summed in query order — no float
    * aggregation order-dependence, so results hash-match any engine.
    * k1 = 1.2, b = 0.75 (the Robertson defaults). */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k: Int): DataFrame = {
    // Query terms must already be normalized tokens: the index side is
    // lower/diacritic-folded and split on non-alnum, so a raw "The" or an
    // accented term would silently score zero. Fail fast instead.
    // (This also makes collisions with the internal __id/__dl columns
    // impossible — tokens never contain underscores.)
    require(terms.nonEmpty && terms == terms.distinct &&
      terms.forall(_.matches("[a-z0-9]+")),
      s"query terms must be distinct normalized tokens [a-z0-9]+, got $terms")
    // ONE tokenization scan feeds tf and the corpus stats; it is the
    // ephemeral index frame of this query (the persistent variant is
    // termIndex written bucketed by term). Every internal column carries
    // a "__" prefix — tokens cannot contain underscores, so a query term
    // can never collide with them (pivot names its output columns after
    // the raw term values).
    val toks = docs.select(col(idCol).as("__id"),
      Cols.ftsTokens(col(textCol)).as("__toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = toks.select(col("__id"), size(col("__toks")).as("__dl"),
      explode(col("__toks")).as("__term"))
      .where(col("__term").isin(terms: _*))
    // per-doc tf of each query term as fixed columns (one hash agg)
    val tf = base.groupBy("__id", "__dl").pivot("__term", terms)
      .agg(count(lit(1)))
      .na.fill(0L, terms)
    // corpus stats (N + avgdl) and per-term df, each a 1-row broadcast —
    // df comes from the tf frame (docs with tf_t > 0), not a third scan,
    // and nothing unbounded collects to the driver.
    val stats = toks.agg(count(lit(1)).as("__n_docs"),
      (sum(size(col("__toks"))).cast("double") / count(lit(1))).as("__avgdl"))
    val dfCols = terms.map(t => count(when(col(s"`$t`") > 0, 1)).as(s"__df_$t"))
    val dfs = tf.agg(dfCols.head, dfCols.tail: _*)
    val withStats = tf.join(broadcast(stats)).join(broadcast(dfs))
    def idf(t: String): Column = {
      val dfv = col(s"__df_$t").cast("double")
      log(lit(1.0) + (col("__n_docs").cast("double") - dfv + 0.5) / (dfv + 0.5))
    }
    def termScore(t: String): Column = {
      val tfv = col(s"`$t`").cast("double")
      idf(t) * (tfv * 2.2) /
        (tfv + lit(1.2) * (lit(0.25) + lit(0.75) * col("__dl") / col("__avgdl")))
    }
    val score = terms.map(termScore).reduce(_ + _)
    val ranked = withStats.select(col("__id").as("id"), score.as("score"))
      .where(col("score") > 0)
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
    // Materialize the bounded top-k (<= k rows) so the cached token frame
    // is released HERE — a lazily-returned frame would leak the persist
    // for the session lifetime (no call site could unpersist it).
    val local = ranked.collectAsList()
    toks.unpersist()
    docs.sparkSession.createDataFrame(local, ranked.schema)
  }

  /** Search pipeline: docs ⋉ prefix-AND matches. */
  def search(docs: DataFrame, idCol: String, textCols: Seq[String],
             prefixes: Seq[String]): DataFrame =
    docs.join(matchingIds(termIndex(docs, idCol, textCols), prefixes)
      .withColumnRenamed("id", idCol + "__m"),
      col(idCol) === col(idCol + "__m"), "left_semi")

  // --- Persistent index -----------------------------------------------------

  /** Write the term index as the PERSISTENT search artifact the header
    * promises: laid out partitioned by the term's first character and
    * sorted by term within files, so a prefix probe [p, p + U+10FFFF)
    * prunes to the matching first-char directory (`PartitionFilters` in
    * the plan) and the sorted term column gives parquet min/max
    * row-group pruning for the pushed range. (Hash BUCKETING would not
    * prune here — bucket pruning needs equality on the bucket column
    * and FTS probes are ranges — which is why the layout key is a
    * partition prefix, not a bucket.) One directory per first char
    * keeps directory counts bounded: terms are lower/alnum-folded, so
    * there are at most 36 partitions regardless of corpus size. */
  def writeTermIndex(index: DataFrame, path: String): Unit =
    index.withColumn("term_pfx", substring(col("term"), 1, 1))
      .repartition(col("term_pfx"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").partitionBy("term_pfx").parquet(path)

  /** The data columns of a [[writeTermIndex]] store over a BIGINT id
    * (term_pfx is its directory key): [[termIndex]]'s own output schema,
    * taken from its plan over no rows, so the layout has one definition.
    * Reading with it skips footer inference. */
  private def termIndexSchema(spark: SparkSession): StructType =
    StructType(termIndex(spark.range(0).select(col("id"), lit("").as("text")),
      "id", Seq("text")).schema.map(_.copy(nullable = true)))

  /** The rows of a [[writeTermIndex]] store at `path` whose term matches
    * any of `prefixes`. Only the prefixes' `term_pfx=<c>` directories are
    * opened, and the sargable ranges are pushed to the scan. None when a
    * prefix's directory does not exist: no term starts with that prefix.
    * A missing index root fails. */
  private[graft] def prefixScan(spark: SparkSession, path: String,
                                prefixes: Seq[String]): Option[DataFrame] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) throw new FileNotFoundException(s"no term index at $path")
    val dirs = prefixes.map(_.take(1)).distinct.map(c => new Path(root, s"term_pfx=$c"))
    if (!dirs.forall(fs.exists)) None
    else Some(spark.read.schema(termIndexSchema(spark)).parquet(dirs.map(_.toString): _*)
      .where(prefixes.map(p => prefixPred(col("term"), p)).reduce(_ || _)))
  }

  /** Most distinct ids a [[probeIds]] query may match. The answer becomes
    * an `id IN (...)` literal in the served plan, so a prefix this
    * unselective (one character over a large corpus) fails the search
    * instead of growing driver memory and every task's plan with the
    * corpus. Each scan task stops one id past it, so the driver holds at
    * most the scan's partition count times this. */
  val MaxProbeIds: Int = 1 << 20

  /** [[matchingIds]] against a written [[writeTermIndex]] store, answered
    * on the driver. One scan of the query's prefix directories tags each
    * posting with a bitmask of the prefixes its term matches; each task
    * ORs the masks per id, and the driver keeps the ids whose merged mask
    * holds every prefix. At most one Spark job, and none when a prefix's
    * directory is missing. Fails when more than `maxIds` distinct ids
    * match any prefix. */
  def probeIds(spark: SparkSession, path: String, prefixes0: Seq[String],
               maxIds: Int = MaxProbeIds): Set[Long] = {
    val prefixes = prefixes0.distinct
    require(prefixes.nonEmpty)
    prefixScan(spark, path, prefixes).fold(Set.empty[Long]) { scan =>
      val groups = prefixes.grouped(64).toSeq // one Long mask per 64 prefixes
      val masks = groups.map(_.zipWithIndex.map { case (p, i) =>
        when(prefixPred(col("term"), p), lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _))
      val n = masks.size
      val qe = scan.select(col("id") +: masks: _*).queryExecution
      val parts = SQLExecution.withNewExecutionId(qe, Some("fts probe")) {
        qe.toRdd.mapPartitions { rows =>
          val acc = mutable.LongMap.empty[Array[Long]]
          while (rows.hasNext && acc.size <= maxIds) {
            val r = rows.next()
            val m = acc.getOrElseUpdate(r.getLong(0), new Array[Long](n))
            for (k <- 0 until n) m(k) |= r.getLong(k + 1)
          }
          Iterator.single(acc.toArray)
        }.collect()
      }
      val merged = mutable.LongMap.empty[Array[Long]]
      for (part <- parts; (id, m) <- part) {
        val acc = merged.getOrElseUpdate(id, new Array[Long](n))
        for (k <- 0 until n) acc(k) |= m(k)
      }
      require(merged.size <= maxIds, s"FTS prefixes ${prefixes.mkString(" ")} " +
        s"match more than $maxIds ids; a longer prefix narrows the search")
      val full = groups.map(g => if (g.size == 64) -1L else (1L << g.size) - 1)
      merged.iterator.collect { case (id, m) if m.sameElements(full) => id }.toSet
    }
  }

  // --- Incrementally maintained index --------------------------------------

  /** Resolve an incrementally maintained term index
    * (streaming.Streams.incrementalFtsIndex) to its current state: each
    * batch_id directory holds the (id, term) rows of the documents
    * delivered in that micro-batch, and a document UPDATED later arrives
    * again in a newer batch whose terms must SHADOW the old revision's —
    * the reference's FTS5 UPDATE trigger pair (DELETE + INSERT,
    * migrations/0002_fts.sql:24-34) expressed as last-writer-wins on
    * batch_id. The latest-batch resolution is a semi-join against an
    * O(distinct ids) aggregate, never a window over the term rows.
    * Tombstone-aware: takedown ids (Governance.recordTombstones) are
    * anti-joined out, so a purged doc re-delivered by a later batch is
    * suppressed at READ time — before any compaction runs. */
  def readIncrementalIndex(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String,
                           tombstonePath: Option[String] = None): DataFrame = {
    val idx = spark.read.parquet(indexDir) // (id, term) + batch_id partition
    val latest = idx.groupBy("id").agg(max("batch_id").as("batch_id"))
    Governance.tombstoneFiltered(spark,
      idx.join(latest, Seq("id", "batch_id")).select("id", "term"),
      tombstonePath, idCol = "id")
  }

  /** Compact the streaming-maintained term index into the persistent
    * serving layout ([[writeTermIndex]]: term_pfx partitioning +
    * within-file term sort) — the lifecycle step between "maintained
    * per micro-batch" and "served with directory pruning", completing
    * the same maintain → compact → serve → purge cycle the MinHash and
    * vector indexes have (Dedup.compactMinhashIndex,
    * Similarity.compactVectorIndex). LWW shadowing resolves here
    * exactly as at read time (readIncrementalIndex is the single
    * source); cost is one resolve + one layout write over INDEX rows —
    * documents are never re-tokenized. The compacted store is what
    * Engine.listEntriesFiltered's maintained-index route serves. */
  def compactFtsIndex(spark: org.apache.spark.sql.SparkSession,
                      incrementalDir: String, outPath: String,
                      tombstonePath: Option[String] = None): Unit =
    writeTermIndex(
      readIncrementalIndex(spark, incrementalDir, tombstonePath), outPath)
}

/** FTS queries registered for the correctness gate, over `documents`. */
object FtsQueries extends graft.QueryModule {
  import org.apache.spark.sql.SparkSession

  /** Word-boundary-regex statement of the p6 prefix-AND predicate — the
    * oracle for every formulation of the 'spar* AND wind*' search
    * (in-memory index, persistent partitioned index). */
  private val sparWindOracle: String =
    """SELECT doc_id, lang, source FROM documents
      |WHERE regexp_matches(lower(strip_accents(text)), '(^|[^a-z0-9])spar')
      |  AND regexp_matches(lower(strip_accents(text)), '(^|[^a-z0-9])wind')""".stripMargin

  /** Shared oracle for s6 and its incremental twin s6b: the rebuilt
    * term index of the CURRENT corpus, ids < 200. */
  private val termIndex200Oracle: String =
    """SELECT DISTINCT doc_id AS id, term FROM (
      |  SELECT doc_id, unnest(string_split_regex(lower(strip_accents(text)), '[^a-z0-9]+')) AS term
      |  FROM documents WHERE doc_id < 200)
      |WHERE term <> ''""".stripMargin

  private lazy val pidxRoot: String = graft.util.TmpRoot("fts-pidx")
  private lazy val incrRoot: String = graft.util.TmpRoot("fts-incr")
  private val pidxWritten =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Scratch subdir per SF data dir: one JVM driving two data dirs
    * (e.g. a spec at sf0.001 after Verify at sf0.01) must not share
    * checkpoints or index state between them. */
  private def dirTag(d: String): String =
    d.replaceAll("[^A-Za-z0-9]", "_")

  /** Land one micro-batch's worth of rows as a single parquet file in
    * the streaming source directory — the shared idempotent-delivery
    * helper (file sources list plain files; the checkpoint tracks
    * processed paths, so a re-copied identical chunk is not re-read). */
  private def addChunk(df: DataFrame, dir: String, name: String): Unit = {
    graft.util.Chunks.add(df, dir, name)
    ()
  }

  def defs: Seq[graft.QueryDef] = Seq(

    // S6 — the term index itself (restricted to a deterministic id slice
    // to keep the dump bounded).
    graft.QueryDef("s6_fts_index", Some(termIndex200Oracle))((s, d) =>
      Fts.termIndex(Tables.documents(s, d).where(col("doc_id") < 200), "doc_id", Seq("text"))),

    // S6b — the index MAINTAINED INCREMENTALLY instead of rebuilt: two
    // micro-batches feed Streams.incrementalFtsIndex — batch 0 delivers
    // ids [0,100) with ids [50,100) carrying a STALE text revision (a
    // planted ' qqstale' token), batch 1 re-delivers [50,200) current —
    // and the resolved read must equal the full batch rebuild of the
    // CURRENT corpus, i.e. s6's own oracle: the stale token must be
    // shadowed (UPDATE semantics), batch-0-only ids [0,50) must survive
    // (no rewrite), and batch-1 additions must appear. Re-invocations
    // are cheap no-ops: the file-source checkpoint has both chunks, so
    // the two stream runs process nothing and the reader serves the
    // already-maintained index; a partially-complete earlier run
    // self-heals because unprocessed chunks simply become the next
    // batch and last-writer-wins converges to the same state.
    graft.QueryDef("s6b_fts_incremental", Some(termIndex200Oracle))((s, d) => {
      val root = s"$incrRoot/${dirTag(d)}"
      val src = s"$root/src"; val idx = s"$root/idx"; val ckpt = s"$root/ckpt"
      val docs = Tables.documents(s, d).where(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      addChunk(docs.where(col("doc_id") < 100)
        .withColumn("text", when(col("doc_id") >= 50,
          concat(col("text"), lit(" qqstale"))).otherwise(col("text"))),
        src, "c1.parquet")
      graft.streaming.Streams.incrementalFtsIndex(s, src, idx, ckpt)
      addChunk(docs.where(col("doc_id") >= 50), src, "c2.parquet")
      graft.streaming.Streams.incrementalFtsIndex(s, src, idx, ckpt)
      Fts.readIncrementalIndex(s, idx)
    }),

    // P6 — prefix-AND membership: docs where some token starts with
    // 'spar' AND some token starts with 'wind' (buildFtsQuery of
    // "spark windows" after truncation — exercises true prefix
    // semantics, not whole-token equality). The oracle states the same
    // predicate as word-boundary regexes over the raw text.
    graft.QueryDef("p6_fts_search", Some(sparWindOracle))((s, d) =>
      Fts.search(Tables.documents(s, d), "doc_id", Seq("text"), Seq("spar", "wind"))
        .select("doc_id", "lang", "source")),

    // P6f — the SAME search routed through the PERSISTENT index: the
    // term index is written partitioned by first char + sorted by term
    // (Fts.writeTermIndex) and probed through the serving route
    // (Fts.probeIds: only the prefixes' directories are read) — so the
    // gate row proves the written layout round-trips losslessly (PlanSpec
    // separately pins that the probe opens only those directories and
    // pushes the range).
    graft.QueryDef("p6f_fts_persistent", Some(sparWindOracle))((s, d) => {
      // Written ONCE per (JVM, data dir) — the index is the amortized
      // artifact (the nightly build's output), not per-query work;
      // repeat invocations (Bench min-of-N) go straight to the probe.
      val path = pidxWritten.computeIfAbsent(d, dd => {
        val p = s"$pidxRoot/${dirTag(dd)}/terms"
        Fts.writeTermIndex(
          Fts.termIndex(Tables.documents(s, dd), "doc_id", Seq("text")), p)
        p
      })
      Tables.documents(s, d)
        .where(col("doc_id").isInCollection(Fts.probeIds(s, path, Seq("spar", "wind"))))
        .select("doc_id", "lang", "source")
    }),

    // P6c — overlapping prefixes ('wind' is a prefix of 'window'): a term
    // matching several query prefixes must credit ALL of them, or the
    // AND-count can never be satisfied (FTS5 'wind* AND window*' matches
    // any doc with a window-token). Regression oracle for the
    // first-match-only bug.
    graft.QueryDef("p6_fts_overlap", Some(
      """SELECT doc_id FROM documents
        |WHERE regexp_matches(lower(strip_accents(text)), '(^|[^a-z0-9])wind')
        |  AND regexp_matches(lower(strip_accents(text)), '(^|[^a-z0-9])window')""".stripMargin))((s, d) =>
      Fts.search(Tables.documents(s, d), "doc_id", Seq("text"), Seq("wind", "window"))
        .select("doc_id")),

    // P6b — multi-column FTS over the entries fixture: the reference
    // indexes 8 text columns (0002_fts.sql:2-10); a prefix may match in
    // ANY of them, AND across prefixes. The oracle states the predicate
    // as word-boundary regexes over the concatenated columns.
    graft.QueryDef("p6_fts_multicol", Some {
      def hit(p: String) =
        s"regexp_matches(lower(strip_accents(concat_ws(' ', agency, subject, details))), '(^|[^a-z0-9])$p')"
      s"""SELECT id, agency, subject FROM ${graft.entries.Fixture.entriesSql}
         |WHERE ${hit("bud")} AND ${hit("spar")}""".stripMargin
    })((s, d) =>
      Fts.search(graft.entries.Fixture.df(s), "id",
        Seq("agency", "subject", "details"), Seq("bud", "spar"))
        .select("id", "agency", "subject")),

    // P6d — the FULL 8-column registration the reference's FTS5 table
    // declares (migrations/0002_fts.sql:2-10: agency, organization,
    // first_name, last_name, subject, details, resolution, response).
    // The prefixes deliberately hit DIFFERENT columns — 'doe' only a
    // last_name, 'gran' only a resolution — so the oracle proves the
    // index actually folds all 8 columns, not just the 3 of p6b.
    graft.QueryDef("p6_fts_allcols", Some {
      val cols8 = "agency, organization, first_name, last_name, subject, details, resolution, response"
      def hit(p: String) =
        s"regexp_matches(lower(strip_accents(concat_ws(' ', $cols8))), '(^|[^a-z0-9])$p')"
      s"""SELECT id, last_name, resolution FROM ${graft.entries.Fixture.entriesSql}
         |WHERE ${hit("doe")} AND ${hit("gran")}""".stripMargin
    })((s, d) =>
      Fts.search(graft.entries.Fixture.df(s), "id",
        Seq("agency", "organization", "first_name", "last_name",
          "subject", "details", "resolution", "response"),
        Seq("doe", "gran"))
        .select("id", "last_name", "resolution")),

    // P6c — BM25 relevance ranking over the documents corpus (beyond the
    // reference's membership-only MATCH). The oracle replays the exact
    // fixed-shape arithmetic, so the distributed tf/df/avgdl plumbing is
    // value-checked, not just row-checked.
    graft.QueryDef("p6c_fts_bm25", Some {
      val toks = "list_filter(string_split_regex(lower(strip_accents(text)), '[^a-z0-9]+'), x -> x <> '')"
      def ts(t: String) =
        s"""ln(1.0 + (CAST(n_docs AS DOUBLE) - df_$t + 0.5) / (df_$t + 0.5)) * (CAST(tf_$t AS DOUBLE) * 2.2) /
           |      (CAST(tf_$t AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))""".stripMargin
      s"""WITH toks AS (SELECT doc_id AS id, $toks AS t FROM documents),
         |base AS (SELECT id, len(t) AS dl, unnest(t) AS term FROM toks),
         |hits AS (SELECT id, dl, term FROM base WHERE term IN ('the', 'and')),
         |tf AS (
         |  SELECT id, dl,
         |    CAST(SUM(CASE WHEN term = 'the' THEN 1 ELSE 0 END) AS BIGINT) AS tf_the,
         |    CAST(SUM(CASE WHEN term = 'and' THEN 1 ELSE 0 END) AS BIGINT) AS tf_and
         |  FROM hits GROUP BY id, dl),
         |stats AS (SELECT count(*) AS n_docs, CAST(SUM(len(t)) AS DOUBLE) / count(*) AS avgdl FROM toks),
         |dfs AS (
         |  SELECT
         |    CAST(count(DISTINCT CASE WHEN term = 'the' THEN id END) AS DOUBLE) AS df_the,
         |    CAST(count(DISTINCT CASE WHEN term = 'and' THEN id END) AS DOUBLE) AS df_and
         |  FROM hits)
         |SELECT id, score FROM (
         |  SELECT id, ${ts("the")}
         |    + ${ts("and")} AS score
         |  FROM tf, stats, dfs)
         |WHERE score > 0
         |ORDER BY score DESC, id ASC LIMIT 20""".stripMargin
    })((s, d) =>
      Fts.bm25(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("the", "and"), k = 20))
  )
}
