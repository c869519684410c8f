package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash band-bucket artifact — the serving layout that makes
  * near-duplicate detection INCREMENTAL.
  *
  * The full-corpus near-dup pass ([[graft.operators.Dedup.minhashNearDuplicates]])
  * re-shingles and re-hashes everything per run; a daily pipeline instead
  * banding-fingerprints the corpus ONCE, persists the (doc, band, bucket)
  * rows, and probes each day's delta against the store. Rows are
  * partitioned by `bh_bucket = pmod(bh, buckets)`, so a probe prunes to
  * exactly the partitions its own band hashes can collide with — the
  * TextIndex/VectorStore at-rest discipline applied to dedup. Probing
  * reads O(collisions); the corpus is never re-fingerprinted.
  *
  * The bucket count is sized to the band rows ([[GenStore.bucketsFor]],
  * [[RowsPerBucket]] rows per bucket, at most 64) by [[write]] and
  * [[compact]], and kept by [[upsert]]. It is recorded in
  * `bands/e<K>/_graft_buckets.json`, inside the epoch it describes and
  * before the pointer flip, so no reader pairs a layout with another
  * epoch's count; an epoch without the record has 64 buckets, the count
  * of every store written before sizing.
  *
  * Lifecycle (epoch pointer, gen segments, (doc, gen) tombstones, policy
  * compaction, crash-redo, replay watermark) is [[GenStore]]'s — this
  * file owns only the band-row layout. The upsert READS NO STORED STATE
  * at all (no stats to adjust), which makes it the cheapest of the three
  * incremental artifacts.
  *
  * Same portable hash family/constants as the inline operator (sha256
  * base + mod-2^60 affine permutations, `BandMinhash`), so any engine —
  * including the DuckDB oracle — replays the stored bands bit-for-bit.
  * (reference: re-ingest replace semantics, worker/app/utils/docids.py:
  * 44-49, generalized to corpus-scale near-dup serving.)
  */
object BandStore {

  /** Band rows per bucket ([[GenStore.bucketsFor]]). Measured on 4 cores
    * (docs/store_buckets.json) from 296 to 320,088 band rows: one bucket
    * is the fastest layout, or within the spread of it, for the write, a
    * whole-corpus q96-style probe, and the upsert and probe of a one- and
    * a ten-document delta. Nothing above 320,088 rows is measured, so the
    * rule reaches the 64 buckets every store had before sizing by then:
    * 10,000 is the largest round count that does (1 bucket up to 10,000
    * rows, 64 above 320,000). Between, it gives 4 buckets at 20,088 rows
    * (the q96 probe 14% slower than one bucket) and 16 at 80,088 (the
    * small-delta upserts and probes 15-42% slower).
    */
  private[graft] val RowsPerBucket = 10000L

  /** The live band rows and the layout they are bucketed with: a probe
    * buckets its batch with the same `buckets`.
    */
  final case class Store(rows: DataFrame, numHashes: Int, nBands: Int, buckets: Int)

  /** Compaction triggers — the shared [[GenStore.Policy]] record; this
    * store arms the segment-count and tombstone-byte triggers.
    */
  type Policy = GenStore.Policy
  val Policy: GenStore.Policy.type = GenStore.Policy

  def storePath(sfDir: String): String =
    GenStore.artifactPath(sfDir, "documents.parquet", "_graft_bands",
      "graft-bandstore")

  private def manifest(sfDir: String, numHashes: Int, bands: Int): String = {
    val stamp = GenStore.sourceStamp(new java.io.File(s"$sfDir/documents.parquet"))
    s"""{"layout":"bands-v3-gen","src":"$stamp","num_hashes":$numHashes,"bands":$bands,"hash_family":"sha256-affine-2^60","tokenizer":"v1-frozen"}"""
  }

  /** One row per (doc, band): the band's fold hash `bh`, the doc's full
    * band array (for emit-once against probes), and its shingle count
    * (similarity upper bounds / stats without re-reading the doc), in
    * bucket `pmod(bh, buckets)`.
    */
  def bandRows(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, buckets: Int): DataFrame =
    fingerprints(docs, idCol, textCol, numHashes, bands)
      .withColumn("bh_bucket", pmod(col("bh"), lit(buckets.toLong)))

  /** [[bandRows]] without the bucket column. */
  private def fingerprints(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int): DataFrame = {
    // pre-filter on the CHEAP token count, not size(shingles): the two
    // are equivalent (the kernel returns empty below 3 v1 tokens, nulls
    // propagate identically), but a shingle-based filter collapses into
    // the scan's DataFilters and the Filter node, re-running the whole
    // shingle kernel 2 extra times per row
    val sh = docs
      .filter(size(split(trim(col(textCol)), " ")) >= 3)
      .select(col(idCol).as("c_id"),
        graft.operators.WordShingles.wordShingles(col(textCol)).as("shingles"))
    sh.select(col("c_id"), size(col("shingles")).as("n_sh"),
        graft.functions.BandMinhash.bandMinhash(col("shingles"), numHashes, bands).as("bhs"))
      .select(col("c_id"), col("n_sh"), col("bhs"),
        posexplode(col("bhs")).as(Seq("band", "bh")))
  }

  private def readBuckets(path: String, epoch: Long): Int =
    GenStore.epochBuckets(path, "bands", epoch)

  /** Writes `rows` (band rows at gen 0 of any bucketing) as epoch `next`,
    * bucketed by their count, and records the count in it; the caller
    * flips the pointer.
    */
  private def writeEpoch(rows: DataFrame, path: String, next: Long): Unit = {
    val buckets = GenStore.bucketsFor(rows.count(), RowsPerBucket)
    // writeTable: an all-short corpus (every doc under the shingle width)
    // fingerprints to ZERO rows, and a bare partitionBy write would
    // commit an unreadable store (GenStore r10 note)
    GenStore.writeTable(
      rows.withColumn("gen", lit(0L))
        .withColumn("bh_bucket", pmod(col("bh"), lit(buckets.toLong))),
      Seq("gen", "bh_bucket"), Nil, s"$path/bands/e$next")
    GenStore.writeEpochBuckets(path, "bands", next, buckets)
  }

  // --- stats sidecar (gen = last segment written; last_batch = streaming
  //     replay watermark) — GenStore's atomic-write/Jackson-parse
  //     codepath, so a torn file degrades to defaults instead of throwing

  private def statsPath(path: String) =
    java.nio.file.Paths.get(path, "_graft_stats.json")

  private def writeStats(path: String, gen: Long, lastBatch: Long): Unit =
    GenStore.atomicWrite(statsPath(path),
      s"""{"gen":$gen,"last_batch":$lastBatch}""")

  /** (current max generation, streaming replay watermark). */
  def readStats(path: String): (Long, Long) =
    GenStore.readSidecar(statsPath(path))
      .map(n => (GenStore.jLong(n, "gen", 0L), GenStore.jLong(n, "last_batch", -1L)))
      .getOrElse((0L, -1L))

  private def bandsDir(path: String) =
    new java.io.File(GenStore.tableDir(path, "bands"))

  private def liveBands(spark: SparkSession, path: String): DataFrame =
    GenStore.liveTable(spark, path, "bands", rowKey = "c_id", tombCol = "doc",
      statsPath(path))

  def exists(path: String): Boolean =
    GenStore.hasParquetData(bandsDir(path)) ||
      java.nio.file.Files.exists( // emptied-by-deletion store: marker only
        bandsDir(path).toPath.resolve(GenStore.EmptyMarker))

  /** Full (re)build: band rows at gen 0 in the NEXT epoch, committed by
    * the atomic pointer flip. Preserves the replay watermark.
    */
  def write(docs: DataFrame, idCol: String, textCol: String, path: String,
      numHashes: Int, bands: Int, policy: Policy = Policy(),
      batchId: Long = -1L): Unit = {
    val prevLast = readStats(path)._2
    val next = GenStore.epochOf(path) + 1
    // fingerprint once: the count fills the cache, the write reads it
    val rows = fingerprints(docs, idCol, textCol, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try writeEpoch(rows, path, next) finally rows.unpersist()
    GenStore.setEpoch(path, next)
    GenStore.writePolicy(path, policy)
    writeStats(path, gen = 0L,
      lastBatch = if (batchId >= 0) batchId else prevLast)
    GenStore.gcEpochs(path, Seq("bands", "tombstones"), next)
  }

  /** Incremental maintenance — the cheapest of the three incremental
    * artifacts: appends the delta's band rows at gen+1 and tombstones
    * every replaced/deleted doc at gen+1, reading NO stored state (there
    * are no corpus-derived stats to adjust; a tombstone for a doc that
    * was never stored kills nothing). Replay-idempotent via `batchId`;
    * crash-atomic: partial next-gen directories are deleted before a
    * redo, stats (the watermark) commit last.
    */
  def upsert(spark: SparkSession, delta: DataFrame, idCol: String,
      textCol: String, deletedIds: DataFrame, path: String,
      numHashes: Int, bands: Int, batchId: Long = -1L): Unit = {
    val (gen0, lastBatch) = readStats(path)
    if (batchId >= 0 && batchId <= lastBatch) return
    val nextGen = gen0 + 1
    GenStore.dropPartialGen(spark, path, Seq("bands", "tombstones"), nextGen)
    val affected = delta.select(col(idCol).as("doc"))
      .unionByName(deletedIds.select(col(deletedIds.columns.head).as("doc")))
    GenStore.appendTombstones(path, affected, tombCol = "doc", gen = nextGen)
    // one file per bucket per write: when every write task emitted a file
    // into every bucket, the sf0.1 streaming store accumulated 1,730 band
    // files and every later probe paid the listing+open tax (q97's store
    // read measured 1.16 s vs 0.24 s for the compact store)
    GenStore.writeBucketed(
      bandRows(delta, idCol, textCol, numHashes, bands, readBuckets(path, GenStore.epochOf(path)))
        .withColumn("gen", lit(nextGen)),
      Seq("gen", "bh_bucket"), GenStore.tableDir(path, "bands"))
    writeStats(path, nextGen, if (batchId >= 0) batchId else lastBatch)
    maybeCompact(spark, path)
  }

  /** Fold live rows back to gen-0 in the next epoch (LSM compaction;
    * serving correctness never depends on it — the fold is committed by
    * the atomic pointer flip, which retires old segments AND tombstones
    * together).
    */
  def compact(spark: SparkSession, path: String): Unit = {
    val (_, lastBatch) = readStats(path)
    val next = GenStore.epochOf(path) + 1
    // the fold rewrites every live row, so it re-sizes the layout to them
    writeEpoch(liveBands(spark, path).localCheckpoint(), path, next)
    GenStore.setEpoch(path, next)
    writeStats(path, gen = 0L, lastBatch = lastBatch)
    GenStore.gcEpochs(path, Seq("bands", "tombstones"), next)
  }

  private def maybeCompact(spark: SparkSession, path: String): Unit = {
    val p = GenStore.readPolicy(path)
    val (gen, _) = readStats(path)
    val tombBytes = GenStore.dirBytes(GenStore.tombstonesDir(path))
    if (gen + 1 > p.maxSegments || tombBytes > p.maxTombstoneBytes)
      compact(spark, path)
  }

  def read(spark: SparkSession, path: String, numHashes: Int, bands: Int): Store =
    Store(liveBands(spark, path), numHashes, bands, readBuckets(path, GenStore.epochOf(path)))

  /** Load the store for `docs`, building it if absent/stale — index at
    * ingest: Verify/Bench build once per sfDir, probes only read.
    */
  def ensure(spark: SparkSession, docs: => DataFrame, idCol: String,
      textCol: String, sfDir: String,
      numHashes: Int = 32, bands: Int = 8): Store = {
    val path = storePath(sfDir)
    GenStore.ensureFresh(path, manifest(sfDir, numHashes, bands)) {
      write(docs, idCol, textCol, path, numHashes, bands)
    }
    read(spark, path, numHashes, bands)
  }
}
