package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 serving artifact persisted at WRITE time and maintained
  * INCREMENTALLY at upsert — the text analog of [[VectorStore]]
  * (reference: the Qdrant content text index is built at upsert and
  * updated per point batch, `worker/app/services/qdrant_client.py:206-297`
  * index creation, `:303-407` upsert; it never rebuilds the collection on
  * new data — neither does this store).
  *
  * `SearchOps.bm25Scores` recomputes corpus stats and postings per call —
  * fine as the oracle path, wrong as a serving path at 100 TB (every
  * query re-tokenizes the corpus). This store materializes, once per
  * corpus, and then maintains per delta batch:
  *
  *   path/postings/term_bucket=<b>/…  — (term, doc, dl, tf, gen),
  *       partitioned by a portable term-hash bucket and sorted by
  *       term within each file: a query's literal terms map to ≤|terms|
  *       buckets (partition pruning at the source) and the in-file sort
  *       gives parquet row-group min/max skipping on `term`. `gen` is the
  *       segment generation the row was written in (0 = initial build).
  *   path/doclens/doc_bucket=<b>/…    — (doc, dl, gen): one row per doc
  *       VERSION, the delta-sized bookkeeping table an upsert consults to
  *       find replaced/deleted docs' lengths (never the postings, never
  *       the corpus).
  *   path/_graft_stats.json           — {n, sum_dl, gen} as EXACT
  *       integers, adjusted incrementally (avgdl derives as one double
  *       division, identical to the inline path's sum/count).
  *   path/postings/e<K>/_graft_buckets.json — {buckets}: the term and doc
  *       bucket count of epoch K, sized to its documents ([[bucketsFor]])
  *       by [[write]] and [[compact]] and kept by upsert. It lives in the
  *       epoch it describes and is written before the pointer flip, so a
  *       reader never pairs a layout with another epoch's count.
  *
  * Epoch pointer, (doc, gen) tombstones + the size-gated liveRows filter,
  * crash-redo of partial segments, policy-triggered compaction, the
  * manifest gate and the sidecar IO discipline are all [[GenStore]]'s —
  * this file owns only the postings/doclens layout and the exact-integer
  * stats arithmetic.
  *
  * Per-term document frequency is NOT stored: df for a query term is
  * the distinct-doc count over that term's LIVE postings — the rows the
  * query already reads — so it stays exact under any upsert/delete
  * history at zero extra scan cost. (A stored df table cannot be
  * delta-maintained without knowing a replaced doc's OLD terms, which
  * would force a postings scan per upsert.)
  *
  * A serving query therefore reads O(matching postings) bytes + the
  * (small) tombstone list; an UPSERT reads O(delta) + the doc-bucket
  * rows of the affected ids in `doclens` — at no point does maintenance
  * re-tokenize or re-scan the unchanged corpus. Tombstones accumulate
  * with churn; [[compact]] folds them back to a clean gen-0 layout.
  */
object TextIndex {

  /** Bucket count of an epoch written before the count was recorded. */
  private val LegacyBuckets = 64

  /** Documents per bucket a full write aims at, and the most buckets. */
  private val DocsPerBucket = 4096L
  private val MaxBuckets = 64

  /** Term and doc buckets of a full write or a compaction over `n`
    * documents: the smallest power of two giving at most 4096 documents
    * per bucket, at most 64. Measured on 4 cores
    * (docs/textindex_buckets.json): the serving latency of
    * `bm25ScoresIndexed` does not move with the bucket count from 300 to
    * 20,000 documents (per query, 0.99–1.01× the 64-bucket time at
    * 20,000), while the write is fastest with one bucket at 300
    * documents and with 4–16 at 5,000–20,000; 64 buckets wrote 19–113%
    * slower than the best count at every size.
    */
  private[graft] def bucketsFor(n: Long): Int = {
    var b = 1
    while (b < MaxBuckets && b * DocsPerBucket < n) b *= 2
    b
  }

  private def bucketsPath(path: String, epoch: Long) =
    java.nio.file.Paths.get(path, "postings", s"e$epoch", "_graft_buckets.json")

  private def writeBuckets(path: String, epoch: Long, buckets: Int): Unit =
    GenStore.atomicWrite(bucketsPath(path, epoch), s"""{"buckets":$buckets}""")

  private def readBuckets(path: String, epoch: Long): Int =
    GenStore.readSidecar(bucketsPath(path, epoch))
      .map(GenStore.jLong(_, "buckets", LegacyBuckets.toLong).toInt)
      .getOrElse(LegacyBuckets)

  /** A committed index as [[read]] found it: the exact-integer stats, the
    * epoch and the committed generation, all from metadata. The tables
    * open only when asked for: [[postings]] and [[df]] are whole-table
    * views (compaction, catalog queries, tests), [[postingsOfBuckets]] is
    * the serving open that lists only the query's term buckets.
    */
  final class Index private[TextIndex] (spark: SparkSession, path: String,
      epoch: Long, maxGen: Long, val n: Long, val sumDl: Long, val buckets: Int) {
    def avgdl: Double = sumDl.toDouble / n

    /** The term bucket `term`'s postings live in, in this index's layout. */
    def bucketOf(term: String): Long = TextIndex.bucketOf(term, buckets)

    private def postingsDir = s"$path/postings/e$epoch"

    private def live(rows: DataFrame): DataFrame =
      GenStore.liveRows(spark, path, rows, rowKey = "doc", tombCol = "doc", maxGen)

    /** Live postings `(term, doc, dl, tf, gen, term_bucket)`. */
    lazy val postings: DataFrame = live(GenStore.seg(spark, postingsDir, maxGen))

    /** df as a view over LIVE postings: a filter on (term_bucket, term) —
      * both grouping keys — pushes below the aggregate to the pruned scan.
      */
    lazy val df: DataFrame = postings
      .groupBy(col("term_bucket"), col("term"))
      .agg(countDistinct(col("doc")).as("df"))

    /** Live postings of `buckets` only: the committed `gen=N/term_bucket=b`
      * directories that exist, at most gens × |buckets| roots, which the
      * driver lists without a Spark job.
      */
    def postingsOfBuckets(buckets: Seq[Long]): DataFrame = {
      val gens = Option(new java.io.File(postingsDir).listFiles())
        .getOrElse(Array.empty[java.io.File]).toSeq
        .filter(g => g.getName.startsWith("gen=") &&
          g.getName.drop(4).toLongOption.exists(_ <= maxGen))
        .sortBy(_.getName)
      val roots = for {
        g <- gens
        b <- buckets.distinct
        d = new java.io.File(g, s"term_bucket=$b")
        if d.isDirectory
      } yield d.toString
      live(GenStore.segRoots(spark, postingsDir, roots, maxGen))
    }
  }

  /** Compaction triggers — the shared [[GenStore.Policy]] record; this
    * store arms the segment-count and dead-fraction triggers (it tracks
    * an EXACT dead-version count in its stats, a tighter signal than
    * tombstone bytes).
    */
  type Policy = GenStore.Policy
  val Policy: GenStore.Policy.type = GenStore.Policy

  /** Portable term bucket: first 60 bits of sha256, mod `buckets` — the
    * same `hash60` family every other persisted layout uses,
    * JVM-computable for literal query terms ([[bucketOf]]) so probes are
    * plain literals.
    */
  def termBucketCol(term: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    pmod(graft.operators.TextAnalytics.hash60(term), lit(buckets.toLong))

  def bucketOf(term: String, buckets: Int): Long = {
    val h = graft.functions.Sha256.hash60(term.getBytes("UTF-8"))
    java.lang.Math.floorMod(h, buckets.toLong)
  }

  /** Doc-id bucket for the doclens bookkeeping table: an upsert's
    * affected-id frame joins on (doc_bucket, doc), so dynamic partition
    * pruning restricts the lookup to the buckets the delta actually
    * touches.
    */
  def docBucketCol(doc: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    pmod(graft.operators.TextAnalytics.hash60(doc.cast("string")), lit(buckets.toLong))

  def indexPath(sfDir: String): String =
    GenStore.artifactPath(sfDir, "documents.parquet", "_graft_text_index",
      "graft-tindex")

  private def manifest(sfDir: String): String = {
    val stamp = GenStore.sourceStamp(new java.io.File(s"$sfDir/documents.parquet"))
    // tokenizer contract is part of the layout version: postings written
    // under a different tokenization must rebuild, not silently mis-score
    // seg-v4: gen is a top-level partition directory (gen=N/term_bucket=B/)
    // so a crashed upsert's partial segment is deletable wholesale — the
    // piece that makes the batch-replay guard crash-atomic
    // seg-v5: tables live under an atomic-pointer-committed epoch dir
    // seg-v6: bucket count sized to the documents, recorded per epoch
    s"""{"source_stamp":"$stamp","tokenize":"ws-split-v2","layout":"seg-v6"}"""
  }

  // --- stats sidecar (exact integers; gen = last segment written;
  //     dead_n = dead doc VERSIONS awaiting compaction — each upsert
  //     tombstones exactly the live versions it replaces/deletes, so the
  //     count maintains incrementally with no scan) --------------------

  private def statsPath(path: String) =
    java.nio.file.Paths.get(path, "_graft_stats.json")

  private def writeStats(path: String, n: Long, sumDl: Long, gen: Long,
      lastBatch: Long = -1L, deadN: Long = 0L): Unit =
    GenStore.atomicWrite(statsPath(path),
      s"""{"n":$n,"sum_dl":$sumDl,"gen":$gen,"last_batch":$lastBatch,"dead_n":$deadN}""")

  private def readStats(path: String): (Long, Long, Long, Long) = {
    val s = readStatsFull(path)
    (s._1, s._2, s._3, s._4)
  }

  /** Streaming replay watermark (−1 when never batch-stamped). */
  private[graft] def lastBatchId(path: String): Long = readStatsFull(path)._4

  private def readStatsFull(path: String): (Long, Long, Long, Long, Long) =
    GenStore.readSidecar(statsPath(path)).map { node =>
      (GenStore.jLong(node, "n", 0L), GenStore.jLong(node, "sum_dl", 0L),
        GenStore.jLong(node, "gen", 0L), GenStore.jLong(node, "last_batch", -1L),
        GenStore.jLong(node, "dead_n", 0L))
    }.getOrElse((0L, 0L, 0L, -1L, 0L))

  /** Run [[compact]] iff the recorded policy says the artifact crossed
    * its churn budget. Driver-side metadata decision only (no job);
    * serving state is compaction-invariant (spec-pinned), so the trigger
    * can fire inside any upsert, including a streaming micro-batch.
    */
  private def maybeCompact(spark: SparkSession, path: String): Unit = {
    val (n, _, gen, _, deadN) = readStatsFull(path)
    val p = GenStore.readPolicy(path)
    val deadFrac =
      if (n + deadN <= 0L) 0.0 else deadN.toDouble / (n + deadN).toDouble
    if (gen >= p.maxSegments || deadFrac >= p.maxDeadFraction)
      compact(spark, path)
  }

  def exists(path: String): Boolean =
    java.nio.file.Files.exists(statsPath(path))

  // --- tokenize + shared delta frames -----------------------------------

  /** `(doc, toks, dl)` under the ws-split-v2 contract — the ONLY
    * tokenization in the store; write and upsert both go through it.
    */
  private def tokenized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
        col(idCol).as("doc"),
        graft.operators.TextAnalytics.tokens(col(textCol)).as("toks"))
      .select(col("doc"), col("toks"), size(col("toks")).cast("long").as("dl"))

  /** Postings rows for one segment — reads NOTHING but `withDl`'s own
    * lineage (test-guarded: an index update must not scan the base
    * postings or the unchanged corpus).
    */
  private[graft] def segmentPostings(withDl: DataFrame, gen: Long, buckets: Int): DataFrame =
    withDl
      .select(col("doc"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("gen", lit(gen))
      .withColumn("term_bucket", termBucketCol(col("term"), buckets))

  private def segmentDoclens(withDl: DataFrame, gen: Long, buckets: Int): DataFrame =
    withDl.select(col("doc"), col("dl"))
      .withColumn("gen", lit(gen))
      .withColumn("doc_bucket", docBucketCol(col("doc"), buckets))

  private def writeSegment(withDl: DataFrame, gen: Long, path: String,
      mode: String, epoch: Long, buckets: Int): Unit = {
    // overwrite here means FULL replace — pin static per-writer so a
    // session-level dynamic overwrite mode cannot leave dead partitions
    GenStore.writeBucketed(segmentPostings(withDl, gen, buckets),
      Seq("gen", "term_bucket"), s"$path/postings/e$epoch", mode,
      sortCols = Seq("term_bucket", "term"))
    GenStore.CrashPoints.hit("postings-segment-written")
    GenStore.writeBucketed(segmentDoclens(withDl, gen, buckets),
      Seq("gen", "doc_bucket"), s"$path/doclens/e$epoch", mode)
  }

  private def liveTable(spark: SparkSession, path: String, name: String): DataFrame =
    GenStore.liveTable(spark, path, name, rowKey = "doc", tombCol = "doc",
      statsPath(path))

  /** The LIVE doclens rows of the affected ids — the upsert's only read
    * of pre-existing state: (doc_bucket, doc) equi-join so partition
    * pruning bounds it by the delta's bucket spread, never the corpus.
    */
  private[graft] def liveAffectedDoclens(spark: SparkSession, path: String,
      affected: DataFrame): DataFrame = {
    val keyed = affected.select(col("doc")).withColumn("doc_bucket",
      docBucketCol(col("doc"), readBuckets(path, GenStore.epochOf(path))))
    liveTable(spark, path, "doclens")
      .join(broadcast(keyed), Seq("doc_bucket", "doc"))
  }

  /** One tokenize pass over the corpus → postings + doclens + stats, all
    * at generation 0. The only corpus-wide work, paid at write time (the
    * reference pays the same cost inside Qdrant's upsert-time indexing).
    */
  def write(docs: DataFrame, idCol: String, textCol: String, path: String,
      batchId: Long = -1L, policy: Policy = Policy()): Unit = {
    // a rebuild must not reset the streaming replay watermark (same
    // contract as VectorStore.write)
    val prevLast = if (exists(path)) readStats(path)._4 else -1L
    // full rebuilds land in the NEXT epoch and commit via the atomic
    // pointer flip — a crash mid-rebuild leaves the old epoch serving,
    // and the flip retires old segments AND old tombstones together
    val next = GenStore.epochOf(path) + 1
    // tokenize once: the stats job fills the cache, both writes read it
    val withDl = tokenized(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stats = withDl.agg(
        count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("sum_dl")).head()
      val buckets = bucketsFor(stats.getLong(0))
      writeSegment(withDl, gen = 0L, path, mode = "overwrite", epoch = next, buckets)
      writeBuckets(path, next, buckets)
      GenStore.setEpoch(path, next)
      GenStore.writePolicy(path, policy)
      writeStats(path, stats.getLong(0), stats.getLong(1), gen = 0L,
        if (batchId >= 0) batchId else prevLast)
      GenStore.gcEpochs(path, Seq("postings", "doclens", "tombstones"), next)
    } finally withDl.unpersist()
  }

  /** Incremental maintenance: merge a delta of new/changed documents and
    * a set of deleted ids into the stored index WITHOUT touching the
    * unchanged corpus — the q54 skip-unchanged contract extended to the
    * serving artifact.
    *
    * Reads: the delta itself (tokenized once) and the affected ids' rows
    * in `doclens` (bucket-joined). Writes: one appended postings/doclens
    * segment at the next generation, tombstones for the replaced/deleted
    * live versions, and the stats sidecar adjusted by exact integer
    * arithmetic (n/Σdl: − removed live versions + delta). Changed docs
    * are tombstone-then-readd at the same generation; `delta` must be
    * unique on `idCol`.
    */
  def upsert(spark: SparkSession, delta: DataFrame, idCol: String,
      textCol: String, deletedIds: DataFrame, path: String,
      batchId: Long = -1L): Unit = {
    val (n0, sumDl0, gen0, lastBatch, dead0) = readStatsFull(path)
    // foreachBatch replay safety: a restarted stream re-delivers the last
    // uncommitted batch; re-appending its postings would DOUBLE every tf.
    // Tracked batch ids make the upsert idempotent (the standard
    // idempotent-sink pattern); ad-hoc callers pass no id and always apply.
    if (batchId >= 0 && batchId <= lastBatch) return
    val nextGen = gen0 + 1
    // crash atomicity: stats (carrying the watermark) are written LAST,
    // so a crash mid-append leaves lastBatch at its old value and the
    // replay re-enters here — delete the partial gen=N directories first
    // and the redo runs against the exact pre-batch state (liveRows and
    // liveAffectedDoclens see no gen-N rows after the cleanup)
    GenStore.dropPartialGen(spark, path,
      Seq("postings", "doclens", "tombstones"), nextGen)
    // materialize the delta tokenization once: it feeds stats, tombstone
    // lookup, postings AND doclens (and must not be recomputed after the
    // appends below start changing what the path contains)
    val withDl = tokenized(delta, idCol, textCol).localCheckpoint()
    val dStats = withDl.agg(
      count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("s")).head()
    val affected = withDl.select(col("doc"))
      .unionByName(deletedIds.select(col(deletedIds.columns.head).as("doc")))
      .distinct()
    val liveOld = liveAffectedDoclens(spark, path, affected)
      .select(col("doc"), col("dl"))
      .localCheckpoint() // snapshot BEFORE appending to doclens
    val rStats = liveOld.agg(
      count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("s")).head()
    // changed docs are tombstoned at the SAME generation their new rows
    // carry, so the new version survives the strictly-below filter
    GenStore.appendTombstones(path, liveOld.select(col("doc")),
      tombCol = "doc", gen = nextGen)
    val epoch = GenStore.epochOf(path)
    writeSegment(withDl, nextGen, path, mode = "append", epoch, readBuckets(path, epoch))
    writeStats(path,
      n0 - rStats.getLong(0) + dStats.getLong(0),
      sumDl0 - rStats.getLong(1) + dStats.getLong(1),
      nextGen, if (batchId >= 0) batchId else lastBatch,
      dead0 + rStats.getLong(0))
    // zero-touch maintenance: fold back to gen-0 when the policy says
    // churn crossed its budget (bounded segments + tombstones forever)
    maybeCompact(spark, path)
  }

  /** Fold accumulated segments + tombstones back into a clean gen-0
    * layout (the LSM compaction step — run by the policy trigger when
    * churn crosses its budget; serving correctness never depends on it).
    * The folded tables land in the NEXT epoch and the atomic pointer
    * flip commits them: there is no window where stale tombstones can
    * kill freshly folded rows, and a crash mid-fold leaves the old
    * epoch serving untouched.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    val (n, sumDl, _, lastBatch) = readStats(path)
    val next = GenStore.epochOf(path) + 1
    // the fold rewrites every live row, so it re-sizes the layout to the
    // documents the index holds now: an index first written from a small
    // batch gets more buckets as upserts grow it
    val buckets = bucketsFor(n)
    val live = liveTable(spark, path, "postings").localCheckpoint()
    val doclens = liveTable(spark, path, "doclens").localCheckpoint()
    // writeTable keeps a fully-emptied index readable (GenStore r10 note)
    GenStore.writeTable(live.withColumn("gen", lit(0L))
        .withColumn("term_bucket", termBucketCol(col("term"), buckets)),
      Seq("gen", "term_bucket"),
      Seq("term_bucket", "term"), s"$path/postings/e$next")
    GenStore.writeTable(doclens.withColumn("gen", lit(0L))
        .withColumn("doc_bucket", docBucketCol(col("doc"), buckets)),
      Seq("gen", "doc_bucket"),
      Nil, s"$path/doclens/e$next")
    writeBuckets(path, next, buckets)
    GenStore.setEpoch(path, next)
    writeStats(path, n, sumDl, gen = 0L, lastBatch)
    GenStore.gcEpochs(path, Seq("postings", "doclens", "tombstones"), next)
  }

  /** The committed index at `path` from its metadata only (stats sidecar
    * and epoch pointer): no table is opened and no Spark job runs.
    */
  def read(spark: SparkSession, path: String): Index = {
    val (n, sumDl, _, _) = readStats(path)
    val epoch = GenStore.epochOf(path)
    new Index(spark, path, epoch, GenStore.committedGen(statsPath(path)), n, sumDl,
      readBuckets(path, epoch))
  }

  /** Load the index for a corpus, building it first if absent or stale —
    * index-at-ingest for the dev loop, same contract as
    * [[VectorStore.ensure]].
    */
  def ensure(spark: SparkSession, docs: => DataFrame, idCol: String,
      textCol: String, sfDir: String): Index = {
    val path = indexPath(sfDir)
    GenStore.ensureFresh(path, manifest(sfDir)) {
      write(docs, idCol, textCol, path)
    }
    read(spark, path)
  }
}
