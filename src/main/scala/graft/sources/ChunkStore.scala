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
  *  - partition the table by `doc_bucket = pmod(xxhash64(document_id), N)`
  *    — co-locates a document's chunks, bounds rewrite scope;
  *  - upsert = read ONLY the buckets hit by the incoming batch (partition
  *    pruning), anti-join out the incoming document_ids (the "delete"),
  *    union the new rows, and dynamically overwrite just those bucket
  *    partitions.
  *
  * At 100 TB with N≈8192 buckets a re-ingest of one document rewrites
  * 1/8192 of the table, not the whole thing; a full-corpus re-ingest is a
  * no-op content-wise (same ids, same rows). On a Delta/Iceberg deployment
  * the same call maps to MERGE; plain parquet keeps this library
  * dependency-free.
  */
object ChunkStore {

  val DefaultBuckets = 64

  private def withBucket(chunks: DataFrame, numBuckets: Int): DataFrame =
    chunks.withColumn("doc_bucket", pmod(xxhash64(col("document_id")), lit(numBuckets)))

  /** The stored chunks, opened with the schema of one data file's footer
    * ([[GenStore.open]]): no schema-inference job, only the file listing.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    GenStore.open(spark, path)

  /** The bucket count is a TABLE property: replace-by-document only works
    * if every writer buckets identically, so the count chosen at creation
    * is persisted beside the data and later upserts ignore their own
    * parameter in favor of it. (Found the hard way: a second writer with a
    * different count writes the "replacement" into different partitions —
    * silent duplicates.)
    */
  private def bucketMetaPath(path: String) = new org.apache.hadoop.fs.Path(path, "_graft_buckets")

  private def readTableBuckets(spark: SparkSession, path: String): Option[Int] = {
    val p = bucketMetaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toInt)
      finally in.close()
    }
  }

  private def writeTableBuckets(spark: SparkSession, path: String, n: Int): Unit = {
    val p = bucketMetaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The stored chunks of `docIds` (a frame with a `document_id` column)
    * ONLY: the same isin bucket pruning the upsert's survivor scan uses,
    * so a delta-sized lookup of existing state reads the delta's buckets,
    * never the table. Callers that will overwrite the store afterwards
    * must snapshot (localCheckpoint) the result first.
    */
  def chunksOfDocuments(spark: SparkSession, path: String,
      docIds: DataFrame): DataFrame = {
    val n = readTableBuckets(spark, path).getOrElse(DefaultBuckets)
    val keyed = withBucket(docIds.select(col("document_id")).distinct(), n)
    val buckets = keyed.select("doc_bucket").distinct()
      .collect().map(_.getLong(0)) // small: ≤ n values
    if (buckets.isEmpty) read(spark, path).limit(0)
    else read(spark, path)
      .filter(col("doc_bucket").isin(buckets.toIndexedSeq: _*))
      .join(broadcast(keyed.select(col("document_id"))),
        Seq("document_id"), "left_semi")
  }

  /** Idempotent replace-by-document upsert. */
  def upsert(chunks: DataFrame, path: String, numBuckets: Int = DefaultBuckets): Unit = {
    val spark = chunks.sparkSession

    val exists = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p)
    }
    val buckets0 = if (exists) readTableBuckets(spark, path).getOrElse(numBuckets) else numBuckets
    val incoming = withBucket(chunks, buckets0)

    // per-WRITER option, never session conf: a session-level "dynamic"
    // would leak into every later overwrite in the same session (a static
    // compaction rewrite under leaked dynamic mode silently KEEPS the
    // partitions it meant to drop)
    if (!exists) {
      // one file per bucket per write (GenStore.writeBucketed) — the
      // sf0.1 streaming chunk store had accumulated 3,025 files when every
      // write task wrote into every bucket, and every read paid for it
      GenStore.writeBucketed(incoming, Seq("doc_bucket"), path,
        mode = "overwrite", partitionOverwriteMode = "dynamic")
      writeTableBuckets(spark, path, buckets0)
    } else {
      val buckets = incoming.select("doc_bucket").distinct()
        .collect().map(_.getLong(0)) // small: ≤ numBuckets values
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
      writeTableBuckets(spark, path, buckets0) // re-assert, cheap
    }
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
    val exists = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    if (!exists) return
    val n = readTableBuckets(spark, path).getOrElse(DefaultBuckets)
    val keyed = withBucket(docIds.select(col("document_id")).distinct(), n)
      .localCheckpoint()
    val buckets = keyed.select("doc_bucket").distinct()
      .collect().map(_.getLong(0)) // small: ≤ n values
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
    // a dynamic overwrite only rewrites partitions PRESENT in the written
    // data — a bucket whose every row was deleted has no survivors and
    // would silently keep serving its old files; drop those partition
    // directories explicitly
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    buckets.filterNot(survivorBuckets).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"doc_bucket=$b"), true)
    }
    spark.catalog.refreshByPath(path)
    // a FULLY emptied table is schemaless parquet (unreadable); collapse
    // it to the clean "no store yet" state every caller already handles
    if (!graft.sources.GenStore.hasParquetData(new java.io.File(path)))
      fs.delete(root, true)
    else writeTableBuckets(spark, path, n) // re-assert, cheap
  }

  /** Compact the store: streaming upserts leave one file set per
    * micro-batch per touched bucket; this rewrites every bucket partition
    * to `filesPerBucket` files. Content-preserving (same rows, same
    * bucketing); run periodically like any table-maintenance OPTIMIZE.
    */
  def compact(spark: SparkSession, path: String, filesPerBucket: Int = 1): Unit = {
    val buckets = readTableBuckets(spark, path).getOrElse(DefaultBuckets)
    val all = read(spark, path).localCheckpoint()
    all
      .repartition(buckets * filesPerBucket, col("doc_bucket"))
      .write.partitionBy("doc_bucket").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(path)
    writeTableBuckets(spark, path, buckets)
  }
}
