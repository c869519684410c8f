package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted near-duplicate CLUSTER-LABEL table — the canonical map a
  * dedup pipeline actually serves: one row per CLUSTERED document,
  * `(doc_id, cluster_id)` with `cluster_id` = the smallest member = the
  * canonical survivor (unclustered docs carry no row; consumers left-join
  * and coalesce to self, exactly q85's contract).
  *
  * Before this store, every serving lineage that needed labels (q85 and
  * its q108/q117/q118 derivatives, q99's canonicalization gate, q126's
  * keeper upgrade, q143's syndication rollup, q147's cluster spectrum)
  * re-ran the full MinHash→verify→connected-components pass per query —
  * the engine's entire top bench cost tier, and exactly the "production
  * materializes the cluster table at write time" promise the query
  * scaladocs made. The store keeps that promise with the same GenStore
  * lifecycle as the band/vector/text artifacts: built once at publish
  * time from the persisted [[BandStore]] (the corpus is never
  * re-fingerprinted), maintained incrementally from the band store's
  * delta probe.
  *
  * Incremental contract (append-only corpus growth): a new dump's pairs
  * come from [[graft.operators.Dedup.incrementalNearDuplicates]] — the
  * delta probed against the (already-upserted) band store, O(delta +
  * collisions). Each new edge endpoint CONTRACTS to its current cluster
  * label (or itself if unlabeled); connected components over that
  * contracted graph — which is bounded by the delta's collision set, not
  * the corpus — yields the merged labels. Because every stored label is
  * the MIN member of its component, the contracted min equals the full
  * recompute's min, so incremental ≡ full rebuild row-for-row (the
  * q77/q78/q79 equivalence discipline; ClusterStoreSpec pins it, including
  * the interesting arm where a delta doc BRIDGES two published clusters
  * and every member of the losing cluster relabels). Only touched
  * components are rewritten: winners keep their rows, losers tombstone +
  * re-append at gen+1. Deletions/replacements rebuild BY DESIGN — removing
  * a doc can SPLIT a component, which no label-local update can see; the
  * manifest stamp mismatch forces the rebuild (ManifestStore's rule).
  *
  * Reference: jsonify2ai re-derives duplicate groups per maintenance run
  * over its chunk store (worker/app/utils/docids.py:44-49 re-ingest
  * replace semantics); persisting the transitive-closure labels at write
  * time is this engine's corpus-scale serving form of that invariant.
  */
object ClusterStore {

  /** The near-dup pair basis — must match the query family's parameters
    * (q19/q85 lineage): the band store's (numHashes, bands) plus the
    * exact-Jaccard verification threshold recorded here.
    */
  val DefaultThreshold = 0.5

  def storePath(sfDir: String): String =
    GenStore.artifactPath(sfDir, "documents.parquet", "_graft_clusters",
      "graft-clusterstore")

  private def manifest(sfDir: String, numHashes: Int, bands: Int,
      threshold: Double): String = {
    val stamp = GenStore.sourceStamp(new java.io.File(s"$sfDir/documents.parquet"))
    s"""{"layout":"clusters-v1-gen","src":"$stamp","num_hashes":$numHashes,"bands":$bands,"threshold":$threshold,"hash_family":"sha256-affine-2^60","tokenizer":"v1-frozen"}"""
  }

  // --- stats sidecar (gen = last segment written; last_batch = streaming
  //     replay watermark) — BandStore's exact shape

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

  private def clustersDir(path: String) =
    new java.io.File(GenStore.tableDir(path, "clusters"))

  def exists(path: String): Boolean =
    GenStore.hasParquetData(clustersDir(path)) ||
      java.nio.file.Files.exists( // pair-free corpus: marker only
        clustersDir(path).toPath.resolve(GenStore.EmptyMarker))

  /** Label rows from a pair frame — [[graft.operators.Dedup.duplicateClusters]]
    * reduced to the stored schema. `bucket` spreads the (tiny, 2-long-column)
    * rows for write parallelism and the tombstone-join layout; it is NOT a
    * semantic column and `read` drops it.
    */
  private def labelRows(pairs: DataFrame): DataFrame =
    graft.operators.Dedup.duplicateClusters(pairs, "a_id", "b_id")
      .select(col("node").as("doc_id"), col("cluster_id"))
      .withColumn("bucket",
        pmod(graft.operators.TextAnalytics.hash60(col("doc_id").cast("string")),
          lit(16L)))

  /** Full (re)build at gen 0 in the next epoch, committed by the atomic
    * pointer flip. Pairs come from the persisted band store
    * ([[graft.operators.Dedup.storedNearDuplicates]] — value-identical to
    * the inline operator at the store's parameters); the corpus text is
    * touched only to re-shingle colliding candidates.
    */
  def write(docs: DataFrame, store: BandStore.Store, idCol: String,
      textCol: String, path: String, threshold: Double = DefaultThreshold,
      batchId: Long = -1L): Unit = {
    val prevLast = readStats(path)._2
    val next = GenStore.epochOf(path) + 1
    val pairs = graft.operators.Dedup.storedNearDuplicates(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      store, "doc_id", "text", threshold)
    GenStore.writeTable(labelRows(pairs).withColumn("gen", lit(0L)),
      Seq("gen", "bucket"), Nil, s"$path/clusters/e$next")
    GenStore.setEpoch(path, next)
    writeStats(path, gen = 0L,
      lastBatch = if (batchId >= 0) batchId else prevLast)
    GenStore.gcEpochs(path, Seq("clusters", "tombstones"), next)
  }

  /** Incremental maintenance for an APPENDED dump — union-find merge of
    * touched components only.
    *
    * Contract: the band store at `store` must already contain the delta's
    * band rows (BandStore.write/upsert precedes cluster maintenance — the
    * Dropzone ordering), and `corpus` is the post-append corpus (delta
    * included) so candidate re-shingling resolves every id. Replay-
    * idempotent via `batchId`; crash-atomic: partial next-gen directories
    * are deleted before a redo, stats commit last (the committed-gen read
    * gate). Deletions/replacements are NOT incremental — see the object
    * scaladoc; callers rebuild via the manifest stamp.
    */
  def append(spark: SparkSession, delta: DataFrame, corpus: DataFrame,
      store: BandStore.Store, idCol: String, textCol: String, path: String,
      threshold: Double = DefaultThreshold, batchId: Long = -1L): Unit = {
    val (gen0, lastBatch) = readStats(path)
    if (batchId >= 0 && batchId <= lastBatch) return
    val nextGen = gen0 + 1
    GenStore.dropPartialGen(spark, path, Seq("clusters", "tombstones"), nextGen)
    // the delta probe: every near-dup pair with at least one delta
    // endpoint (delta-internal pairs surface too — the delta's own band
    // rows are in the store). Collision-bounded, read thrice below →
    // checkpoint via the labels frame instead of re-probing.
    val newPairs = graft.operators.Dedup.incrementalNearDuplicates(
        delta.select(col(idCol).as("doc_id"), col(textCol).as("text")),
        corpus.select(col(idCol).as("doc_id"), col(textCol).as("text")),
        store, "doc_id", "text", threshold)
      .select(col("b_id").as("a_id"), col("c_id").as("b_id"))
    val cur = liveLabels(spark, path).localCheckpoint()
    // contract each endpoint to its current component representative
    def rep(side: String) = cur
      .select(col("doc_id").as(side), col("cluster_id").as(s"__l_$side"))
    val contracted = newPairs
      .join(rep("a_id"), Seq("a_id"), "left")
      .join(rep("b_id"), Seq("b_id"), "left")
      .select(coalesce(col("__l_a_id"), col("a_id")).as("a_id"),
        coalesce(col("__l_b_id"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .localCheckpoint() // collision-bounded; read by the gate + the CC
    if (contracted.isEmpty) { // no new edges: watermark-only commit
      writeStats(path, gen0, if (batchId >= 0) batchId else lastBatch)
      return
    }
    // CC over the contracted graph: each node is a current rep (= the min
    // of its component) or an unlabeled doc, so the merged min IS the
    // full-rebuild min — the equivalence the spec pins
    val merged = graft.operators.Dedup.duplicateClusters(
        contracted, "a_id", "b_id")
      .select(col("node"), col("cluster_id").as("__new_l"))
      .localCheckpoint()
    // rows to (re)write: members of LOSING components (label changed) +
    // contracted nodes with no stored rows (new docs / old singletons)
    val fromExisting = cur
      .join(merged.withColumnRenamed("node", "cluster_id"), Seq("cluster_id"))
      .filter(col("__new_l") =!= col("cluster_id"))
      .select(col("doc_id"), col("__new_l").as("cluster_id"))
    val fromNew = merged
      .join(cur.select(col("doc_id").as("node")), Seq("node"), "left_anti")
      .select(col("node").as("doc_id"), col("__new_l").as("cluster_id"))
    val upserts = fromExisting.unionByName(fromNew)
      .withColumn("bucket",
        pmod(graft.operators.TextAnalytics.hash60(col("doc_id").cast("string")),
          lit(16L)))
      .localCheckpoint() // feeds the tombstone write AND the segment write
    GenStore.appendTombstones(path, upserts.select(col("doc_id")),
      tombCol = "doc", gen = nextGen)
    GenStore.writeBucketed(upserts.withColumn("gen", lit(nextGen)),
      Seq("gen", "bucket"), GenStore.tableDir(path, "clusters"))
    writeStats(path, nextGen, if (batchId >= 0) batchId else lastBatch)
  }

  private def liveLabels(spark: SparkSession, path: String): DataFrame =
    GenStore.liveTable(spark, path, "clusters",
        rowKey = "doc_id", tombCol = "doc", statsPath(path))
      .select(col("doc_id"), col("cluster_id"))

  /** Serve frame: `(doc_id, cluster_id, is_canonical)` for clustered docs
    * — q75's exact shape; q85's apply is a corpus left-join over it.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    liveLabels(spark, path)
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))

  /** Load the label table for `docs`, building it if absent/stale — the
    * materialize-at-publish-time contract: Verify/Bench build once per
    * sfDir, the nine serving lineages only read.
    */
  def ensure(spark: SparkSession, docs: => DataFrame, idCol: String,
      textCol: String, sfDir: String, store: => BandStore.Store,
      threshold: Double = DefaultThreshold): DataFrame = {
    val path = storePath(sfDir)
    GenStore.ensureFresh(path,
        manifest(sfDir, numHashes = 32, bands = 8, threshold)) {
      val st = store
      require(st.numHashes == 32 && st.nBands == 8,
        s"ClusterStore manifest pins the (32, 8) band basis; got " +
          s"(${st.numHashes}, ${st.nBands})")
      write(docs, st, idCol, textCol, path, threshold)
    }
    read(spark, path)
  }
}
