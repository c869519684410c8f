package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The chunk collection at rest: bucket-partitioned parquet with
  * replace-by-document upsert semantics.
  *
  * The reference's invariant is deterministic ids + delete-before-write, so
  * re-ingesting a file replaces its points instead of duplicating them
  * (reference: worker/app/services/qdrant_client.py:410-433,
  * docs/invariants.md:12-18). On Spark that becomes:
  *
  *  - partition the table by `doc_bucket = pmod(xxhash64(document_id), b)`
  *    — co-locates a document's chunks, bounds rewrite scope;
  *  - upsert = read ONLY the buckets hit by the incoming batch (partition
  *    pruning), anti-join out the incoming document_ids (the "delete"),
  *    union the new rows, and dynamically overwrite just those bucket
  *    partitions.
  *
  * The bucket count `b` is sized to the rows ([[GenStore.bucketsFor]],
  * [[RowsPerBucket]] rows per bucket, at most 64) and recorded in the
  * plain-int `_graft_buckets` file; a store without the record has 64,
  * the count every store had before sizing.
  *
  *  - Create: the first write caches its input, counts it, records
  *    `bucketsFor(n)` and then writes the buckets, so a store with data
  *    always has its record.
  *  - Grow: after an upsert's own write, when the row count its file
  *    footers give exceeds `b × RowsPerBucket`, the store grows to
  *    `b' = bucketsFor(n)`, a multiple of `b`, so a row only moves from
  *    bucket `i` to a bucket `≡ i (mod b)`. A growth marker holding `b'`
  *    is written first; then (1) the rows whose new bucket is `≥ b` are
  *    written into the new directories, (2) buckets `0..b−1` are
  *    rewritten with the rows that stay and any bucket left empty is
  *    deleted, and last the record takes `b'` and the marker goes. No row
  *    is missing between the writes; a moved row sits in two buckets
  *    until step 2, and while the marker is there [[read]] keeps one copy
  *    of each. Every writer that finds the marker (upsert, delete,
  *    compact) redoes the growth first: step 1 recomputes the moved rows
  *    from the old buckets and step 2 is idempotent. Growth is by
  *    doublings, so a stream that starts from one small micro-batch pays
  *    an amortized O(1) rewrite per row. The count never shrinks.
  *
  * A re-ingest of one document rewrites one bucket, 1/b of the table; a
  * full-corpus re-ingest is a no-op content-wise (same ids, same rows).
  * On a Delta/Iceberg deployment the same call maps to MERGE; plain
  * parquet keeps this library dependency-free.
  */
object ChunkStore {

  /** Rows per bucket ([[GenStore.bucketsFor]]). Measured on 4 cores
    * (docs/store_buckets.json): one bucket is best at 300 rows, four at
    * 4,700, four to sixteen at 19,000, where one bucket scans and serves
    * the dense step about 1.2-1.5× slower and 64 buckets write 20%
    * slower, and sixteen to 64 at 61,670, where one bucket scans 1.8×
    * slower; 2048 gives 1, 4, 16 and 32 at those sizes and 64 above
    * 65,536 rows.
    */
  private[graft] val RowsPerBucket = 2048L

  private def withBucket(chunks: DataFrame, numBuckets: Int): DataFrame =
    chunks.withColumn("doc_bucket", pmod(xxhash64(col("document_id")), lit(numBuckets)))

  /** The stored chunks, opened with the schema of one data file's footer
    * ([[GenStore.open]]): no schema-inference job, only the file listing.
    * Over an interrupted growth each moved row is kept once.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    untorn(path, GenStore.open(spark, path))

  /** A growth marker means moved rows may sit in both their old and their
    * new bucket (identical but for `doc_bucket`): keep one copy of each.
    */
  private def untorn(path: String, rows: DataFrame): DataFrame =
    if (growingTo(path).isDefined) rows.dropDuplicates("id") else rows

  /** True when the store holds data. A crashed first write can leave the
    * directory with only its count record; that is no store, and the next
    * [[upsert]] creates it.
    */
  def exists(path: String): Boolean =
    GenStore.hasParquetData(new java.io.File(path))

  /** The bucket count is a TABLE property: replace-by-document only works
    * if every writer buckets identically, so the count is persisted beside
    * the data and every writer buckets with it. (Found the hard way: a
    * second writer with a different count writes the "replacement" into
    * different partitions — silent duplicates.)
    */
  private def bucketsPath(path: String) = java.nio.file.Paths.get(path, "_graft_buckets")

  /** The growth in progress: the bucket count a crashed growth was headed for. */
  private def growPath(path: String) = java.nio.file.Paths.get(path, "_graft_grow")

  /** Both files hold a plain int. */
  private def readCount(p: java.nio.file.Path): Option[Int] =
    if (!java.nio.file.Files.exists(p)) None
    else Some(java.nio.file.Files.readString(p).trim.toInt)

  private[graft] def tableBuckets(path: String): Int =
    readCount(bucketsPath(path)).getOrElse(GenStore.MaxBuckets)

  private def writeTableBuckets(path: String, n: Int): Unit =
    GenStore.atomicWrite(bucketsPath(path), n.toString)

  private def growingTo(path: String): Option[Int] = readCount(growPath(path))

  /** The stored chunks of `docIds` (a frame with a `document_id` column)
    * ONLY: the same isin bucket pruning the upsert's survivor scan uses,
    * so a delta-sized lookup of existing state reads the delta's buckets,
    * never the table. Over an interrupted growth to `b'` it also reads
    * each id's bucket of `b'` (its old bucket is that one mod the
    * recorded count) and keeps each moved row once, as [[read]] does.
    * Callers that will overwrite the store afterwards must snapshot
    * (localCheckpoint) the result first.
    */
  def chunksOfDocuments(spark: SparkSession, path: String,
      docIds: DataFrame): DataFrame = {
    val b = tableBuckets(path)
    val ids = docIds.select(col("document_id")).distinct()
    val buckets = withBucket(ids, growingTo(path).getOrElse(b)).select("doc_bucket").distinct()
      .collect().map(_.getLong(0)) // small: ≤ bucket-count values
    if (buckets.isEmpty) read(spark, path).limit(0)
    else untorn(path, GenStore.open(spark, path)
      .filter(col("doc_bucket").isin((buckets ++ buckets.map(_ % b)).distinct: _*))
      .join(broadcast(ids), Seq("document_id"), "left_semi"))
  }

  /** Idempotent replace-by-document upsert. */
  def upsert(chunks: DataFrame, path: String): Unit = {
    val spark = chunks.sparkSession
    // per-WRITER option, never session conf: a session-level "dynamic"
    // would leak into every later overwrite in the same session (a static
    // compaction rewrite under leaked dynamic mode silently KEEPS the
    // partitions it meant to drop)
    if (!exists(path)) create(chunks, path)
    else {
      finishGrowth(spark, path)
      val incoming = withBucket(chunks, tableBuckets(path))
      val buckets = incoming.select("doc_bucket").distinct()
        .collect().map(_.getLong(0)) // small: ≤ bucket-count values
      // empty batch (e.g. an incremental re-ingest of an unchanged corpus)
      // must be a literal no-op: zero partitions rewritten, not an empty
      // dynamic overwrite
      if (buckets.isEmpty) return
      val docs = incoming.select(col("document_id")).distinct()
      // survivors: rows in affected buckets belonging to OTHER documents;
      // localCheckpoint materializes them so the dynamic overwrite below
      // does not read from the files it replaces.
      val survivors = read(spark, path)
        .filter(col("doc_bucket").isin(buckets.toIndexedSeq: _*)) // partition-pruned scan
        .join(docs, Seq("document_id"), "left_anti")
        .localCheckpoint()
      GenStore.writeBucketed(survivors.unionByName(incoming),
        Seq("doc_bucket"), path, mode = "overwrite", partitionOverwriteMode = "dynamic")
      maybeGrow(spark, path)
    }
  }

  /** First write: the input is computed once (cached for the count and
    * the write), the count recorded, then the buckets written — one file
    * per bucket ([[GenStore.writeBucketed]]).
    */
  private def create(chunks: DataFrame, path: String): Unit = {
    val owned = chunks.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val cached =
      if (owned) chunks.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else chunks
    try {
      val n = GenStore.bucketsFor(cached.count(), RowsPerBucket)
      // a crashed create leaves the record without data, which is no
      // store to `exists` and `upsert`; both are rewritten by the next write
      writeTableBuckets(path, n)
      GenStore.writeBucketed(withBucket(cached, n), Seq("doc_bucket"), path,
        mode = "overwrite", partitionOverwriteMode = "dynamic")
      GenStore.CrashPoints.hit("chunks-created")
    } finally if (owned) cached.unpersist()
  }

  /** Grow when the stored rows exceed the count's capacity. */
  private def maybeGrow(spark: SparkSession, path: String): Unit = {
    val b = tableBuckets(path)
    if (b < GenStore.MaxBuckets) {
      val target = GenStore.bucketsFor(GenStore.footerRows(spark, path), RowsPerBucket)
      if (target > b) {
        GenStore.atomicWrite(growPath(path), target.toString)
        grow(spark, path, b, target)
      }
    }
  }

  /** Redo a growth a crash interrupted, if the marker says there is one. */
  private def finishGrowth(spark: SparkSession, path: String): Unit =
    growingTo(path).foreach(target => grow(spark, path, tableBuckets(path), target))

  /** Split every bucket of `b` into its buckets of `target` (a multiple of
    * `b`): the two writes, then the record, then the marker's removal.
    */
  private def grow(spark: SparkSession, path: String, b: Int, target: Int): Unit = {
    if (target > b) {
      // raw, not read: the rows in the old buckets, moved copies included
      val old = GenStore.open(spark, path).filter(col("doc_bucket") < b)
        .drop("doc_bucket")
        .withColumn("doc_bucket", pmod(xxhash64(col("document_id")), lit(target)))
      // (1) moved rows into the new buckets: the old buckets still hold
      // them, so a redo recomputes the same rows for every new bucket
      // whose old bucket step 2 has not rewritten yet
      GenStore.writeBucketed(old.filter(col("doc_bucket") >= b), Seq("doc_bucket"), path,
        mode = "overwrite", partitionOverwriteMode = "dynamic")
      GenStore.CrashPoints.hit("chunks-grow-moved")
      // (2) the old buckets keep the rows that stay
      val stay = old.filter(col("doc_bucket") < b).localCheckpoint()
      val kept = stay.select(col("doc_bucket")).distinct().collect().map(_.getLong(0)).toSet
      GenStore.writeBucketed(stay, Seq("doc_bucket"), path,
        mode = "overwrite", partitionOverwriteMode = "dynamic")
      dropBuckets(spark, path, (0L until b).filterNot(kept))
      GenStore.CrashPoints.hit("chunks-grow-kept")
      writeTableBuckets(path, target)
      GenStore.CrashPoints.hit("chunks-grown")
    }
    java.nio.file.Files.deleteIfExists(growPath(path))
  }

  /** Delete bucket directories: a dynamic overwrite only rewrites the
    * partitions PRESENT in the written data, so a bucket left with no rows
    * would silently keep serving its old files.
    */
  private def dropBuckets(spark: SparkSession, path: String, buckets: Seq[Long]): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    buckets.foreach(b => fs.delete(new org.apache.hadoop.fs.Path(root, s"doc_bucket=$b"), true))
    spark.catalog.refreshByPath(path)
  }

  /** Delete every chunk of `docIds` (a frame with a `document_id`
    * column) — the S19 maintenance-delete made directly invokable: the
    * same bucket-pruned survivor scan as [[upsert]], minus the new rows
    * (reference: scripts/dev/tools/cleanup_kind.py:53-123 /
    * qdrant_delete_by_ids.py — explicit point deletion outside the
    * replace-by-document flow). Rewrites ONLY the buckets the deleted
    * documents live in; an empty id set is a literal no-op.
    */
  def deleteDocuments(spark: SparkSession, path: String,
      docIds: DataFrame): Unit = {
    if (!exists(path)) return
    finishGrowth(spark, path)
    val keyed = withBucket(docIds.select(col("document_id")).distinct(), tableBuckets(path))
      .localCheckpoint()
    val buckets = keyed.select("doc_bucket").distinct()
      .collect().map(_.getLong(0)) // small: ≤ bucket-count values
    if (buckets.isEmpty) return
    val survivors = read(spark, path)
      .filter(col("doc_bucket").isin(buckets.toIndexedSeq: _*))
      .join(keyed.select(col("document_id")), Seq("document_id"), "left_anti")
      .localCheckpoint() // snapshot before overwriting the same buckets
    // cast: the partition directory round-trips through inference as int,
    // unlike the long the writer computed (GenStore.seg's gen note)
    val survivorBuckets = survivors.select(col("doc_bucket").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    if (survivorBuckets.nonEmpty)
      GenStore.writeBucketed(survivors, Seq("doc_bucket"), path,
        mode = "overwrite", partitionOverwriteMode = "dynamic")
    dropBuckets(spark, path, buckets.filterNot(survivorBuckets).toSeq)
    // a FULLY emptied table is schemaless parquet (unreadable); collapse
    // it to the clean "no store yet" state every caller already handles
    if (!exists(path)) {
      val root = new org.apache.hadoop.fs.Path(path)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(root, true)
    }
  }

  /** Compact the store: streaming upserts leave one file set per
    * micro-batch per touched bucket; this rewrites every bucket partition
    * to one file ([[GenStore.writeBucketed]]). Content-preserving (same
    * rows, same bucket count); run periodically like any
    * table-maintenance OPTIMIZE.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    finishGrowth(spark, path)
    GenStore.writeBucketed(read(spark, path).localCheckpoint(), Seq("doc_bucket"), path,
      mode = "overwrite", partitionOverwriteMode = "dynamic")
  }
}
