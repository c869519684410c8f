package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.Uuid5
import graft.operators.{Chunker, DevEmbed}
import graft.sources.{ChunkStore, FileIngest, TextIndex, VectorStore}

/** Streaming dropzone ingestion — the reference's watcher daemon
  * (SURVEY §2.9) re-expressed as Structured Streaming:
  *
  *  - ST1 source: the polled directory becomes a checkpointed file stream
  *    (`readStream.format("binaryFile")`) with a processing-time trigger
  *    (reference poll interval 2 s, filewatcher.py:27);
  *  - ST2 debounce: `maxFilesPerTrigger` bounds batch size; file-stability
  *    probing is subsumed by the source's completed-file listing;
  *  - ST3 exactly-once/dedup state: the reference keeps a path→hash state
  *    file and deletes old points when a file changes
  *    (watch_dropzone.py:37-80). Here the checkpoint holds source offsets
  *    and `foreachBatch` applies ChunkStore.upsert — deterministic ids
  *    make replay idempotent, changed files replace their own chunks;
  *  - ST4 retry: restart-from-checkpoint re-processes any failed batch.
  *
  * DELETION contract: the file stream emits no delete events, so
  * [[processBatch]] never tombstones a file that disappeared from the
  * dropzone — re-drops replace themselves, true deletions accumulate.
  * [[reconcileDeletions]] is the maintenance pass that closes the gap:
  * it anti-joins every store's live doc set against the live listing and
  * feeds the dead documents to the artifacts' existing tombstone paths.
  *
  * MODIFY-IN-PLACE limitation (r10, documented): Spark's file-stream
  * source tracks seen files BY PATH and does not re-deliver a path whose
  * bytes changed in place (at best after maxFileAge eviction), so the
  * replace-by-document machinery only triggers for content re-delivered
  * under a new path or re-listed after eviction. Deployments whose
  * producers overwrite files in place should run the BATCH reconcile —
  * `FileIngest.ingestDirectory` over the dropzone, whose skip-unchanged
  * anti-join is sig-based and re-ingests exactly the changed files — on
  * the reconcile cadence. Related edge: a file re-delivered with content
  * that now yields NOTHING (emptied/unparseable) is dropped by the
  * empty-content guard before the delta, so its previously indexed
  * content keeps serving until [[reconcileDeletions]] (if the file was
  * removed) or a non-empty re-drop replaces it; treating yields-nothing
  * deliveries as deletions is a deliberate non-goal of the stream path
  * (the reference's watcher has the same blind spot).
  */
object Dropzone {

  /** [[reconcileDeletions]] return value when a stale batchId skipped the
    * whole pass: distinct from the normal "nothing dead" 0 so callers and
    * operators can tell a skipped reconcile from an empty one.
    */
  val ReconcileStale: Long = -1L

  /** One micro-batch: route documents, drop the ones already stored with
    * identical content (ST3 — the watcher's last-hash skip; re-delivered
    * paths after checkpoint eviction or touch-rewrites would otherwise
    * recompute chunk+embed for bytes the store already holds), chunk+embed
    * the delta, upsert. Extracted from the foreachBatch closure so the
    * wiring is unit-testable without running a stream.
    */
  private[graft] def processBatch(
      spark: SparkSession,
      files: DataFrame,
      dropzone: String,
      storePath: String,
      chunkSize: Int,
      chunkOverlap: Int,
      embedDim: Int,
      skipUnchangedFiles: Boolean,
      media: Option[(graft.operators.MediaService.Config,
        graft.operators.MediaService.Config)] = None,
      textIndexPath: Option[String] = None,
      vectorStorePath: Option[String] = None,
      vectorStoreK: Int = 16,
      batchId: Long = -1L,
      pqStorePath: Option[String] = None,
      pqM: Int = 4,
      pqKsub: Int = 16,
      bandStorePath: Option[String] = None,
      skipLedgerPath: Option[String] = None,
      manifestStore: Option[(String, graft.sources.ManifestStore.Params,
        org.apache.spark.sql.Column)] = None,
      clusterStore: Option[(String, () => DataFrame)] = None): Unit = {
    val scanned = FileIngest.scanFilesFrame(files, dropzone)
    // Per-micro-batch skip ledger (r11, the q101 batch ledger promoted to
    // the stream — the reference records a skip ledger per ingest run,
    // ingest_dropzone.py:512-522): the empty-content drops of THIS
    // delivery land under a batch=<id> directory, so a replay after
    // restart overwrites its own rows (idempotent) and the ledger
    // accumulates across batches without ever being rewritten wholesale.
    // With a media service configured, audio/image rows are excluded:
    // their text arrives via the service annotation (running the router
    // without it would misfile every media file as extraction_empty), and
    // fail-soft service skips are already counted by the named
    // accumulators in routeDocumentsWithMedia.
    skipLedgerPath.foreach { slp =>
      val src =
        if (media.isDefined) scanned.filter(!col("kind").isin("audio", "image"))
        else scanned
      val ledger = FileIngest.skipLedger(src)
      // Written UNCONDITIONALLY (r11 advice): guarding on !isEmpty left a
      // replayed batch whose files no longer skip (an emptied file
      // re-delivered with content) serving the prior attempt's stale rows
      // forever — the empty overwrite is the deletion. coalesce(1): a
      // batch's drop ledger is a handful of rows by construction (only
      // empty/extraction-empty files land here), so one task per batch
      // beats 32 near-empty part files per batch directory.
      ledger.coalesce(1).write.mode("overwrite")
        .parquet(s"$slp/batch=$batchId")
    }
    // media routing composes with the stream exactly like the batch path:
    // the same scanned frame, STT/caption annotation (dev stubs or batched
    // service transport) BEFORE the text router, then identical lineage
    val docs = media match {
      case Some((stt, caption)) =>
        FileIngest.routeDocumentsWithMedia(scanned, stt, caption)
      case None => FileIngest.routeDocuments(scanned)
    }
    val storeExists = {
      val p = new org.apache.hadoop.fs.Path(storePath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val delta =
      (if (skipUnchangedFiles && storeExists)
        FileIngest.skipUnchanged(docs, ChunkStore.read(spark, storePath))
      else docs).localCheckpoint() // consumed by BOTH sinks below
    // Touched-but-unchanged deliveries (mtime bumps, checkpoint-evicted
    // re-listings) produce an EMPTY delta; without this guard every
    // artifact still runs its full upsert chain — ~20 small jobs apiece —
    // and appends a junk empty generation that counts toward compaction
    // triggers. Nothing downstream changes state on an empty delta, so
    // skip it all. (The batch-id watermark need not advance: replaying an
    // empty batch is itself a no-op.)
    if (storeExists && delta.isEmpty) return
    // localCheckpoint before upsert: (a) the skipUnchanged delta's lineage
    // reads the store parquet, and upsert dynamic-overwrites that same path
    // (the read-while-write hazard ChunkStore guards its survivors side
    // against); (b) upsert runs two jobs (bucket collect + write), which
    // would otherwise recompute chunk+embed per micro-batch.
    val chunks = FileIngest.chunksFromDocuments(
      delta, chunkSize, chunkOverlap, embedDim).localCheckpoint()
    // Chunk ids are uuid5(document_id, "chunk:{idx}"): a re-dropped file
    // that now chunks SHORTER leaves its old tail ids in neither the new
    // delta nor anything downstream — ChunkStore.upsert drops those rows,
    // but the ANN store would keep serving their vectors unless they are
    // deleted EXPLICITLY. Compute the replaced documents' removed chunk
    // ids (stored chunks of affected documents, anti-joined against the
    // new ids) from pre-upsert state, snapshotted before the upsert
    // rewrites the buckets this reads. (The text index needs no analog:
    // its doc grain is the file path, and the delta tombstones it whole.)
    val removedChunkIds =
      if (storeExists && vectorStorePath.isDefined)
        ChunkStore.chunksOfDocuments(spark, storePath,
            chunks.select(col("document_id")))
          .select(col("id"))
          .join(chunks.select(col("id")), Seq("id"), "left_anti")
          .localCheckpoint()
      else chunks.select(col("id")).limit(0)
    // the BM25 serving artifact is maintained PER MICRO-BATCH beside the
    // chunk store (the reference's watcher upserts into Qdrant's indexes
    // per file event): document-level delta in, segment append + tombstone
    // out. The stream's batchId makes replays after a restart no-ops —
    // re-appending a delivered batch would double every tf.
    textIndexPath.foreach { tip =>
      val docDelta = delta.select(col("path"), col("text"))
      if (TextIndex.exists(tip))
        TextIndex.upsert(spark, docDelta, "path", "text",
          docDelta.select(col("path")).limit(0), tip, batchId)
      else if (!docDelta.isEmpty)
        TextIndex.write(docDelta, "path", "text", tip, batchId)
    }
    // the near-dup band store is maintained the same way (doc grain =
    // file path, like the text index): the delta's documents append
    // their band fingerprints at gen+1, re-dropped paths tombstone
    // their old generations, replays are batch-id no-ops
    bandStorePath.foreach { bsp =>
      val docDelta = delta.select(col("path"), col("text"))
      if (graft.sources.BandStore.exists(bsp))
        graft.sources.BandStore.upsert(spark, docDelta, "path", "text",
          docDelta.select(col("path")).limit(0), bsp,
          numHashes = 32, bands = 8, batchId = batchId)
      else if (!docDelta.isEmpty)
        graft.sources.BandStore.write(docDelta, "path", "text", bsp,
          numHashes = 32, bands = 8, batchId = batchId)
    }
    // the cluster-label table is maintained per micro-batch BESIDE the
    // band store it probes (band upsert FIRST — the delta's fingerprints
    // must be in the store for delta-internal pairs to surface; the
    // ordering ClusterStoreSpec/the q155 family pin). The corpus thunk
    // supplies every LIVE document's text (the lake the dropzone feeds):
    // the append re-shingles only colliding candidates from it, so the
    // per-batch cost is O(delta + collisions). Replaced/deleted docs are
    // not incremental for labels (a removed edge can SPLIT a component)
    // — this wiring is for append-only dumps, like the manifest's.
    clusterStore.foreach { case (csp, corpus) =>
      val bsp = bandStorePath.getOrElse(throw new IllegalArgumentException(
        "clusterStore maintenance requires bandStorePath (labels are " +
          "derived from the band store's delta probe)"))
      val docDelta = delta.select(col("path"), col("text"))
      val bs = graft.sources.BandStore.read(spark, bsp, 32, 8)
      if (graft.sources.ClusterStore.exists(csp))
        graft.sources.ClusterStore.append(spark, docDelta,
          corpus().select(col("path"), col("text")), bs,
          "path", "text", csp, batchId = batchId)
      else if (!docDelta.isEmpty)
        graft.sources.ClusterStore.write(corpus().select(col("path"),
          col("text")), bs, "path", "text", csp, batchId = batchId)
    }
    // the loader manifest is maintained per micro-batch like the stores
    // above, but under ManifestStore's APPEND-ONLY contract: each dump
    // packs into fresh sequences at the epochs' tails. `docIdExpr` maps
    // the delivered file to its numeric packing id (the manifest's order
    // key). A RE-delivered doc cannot be absorbed — its spans are already
    // published, and repacking renumbers later sequences (exactly what a
    // training run must never observe) — so a non-append delta fails
    // FAST here rather than silently corrupting the manifest; replays of
    // an already-committed batch id are no-ops via the watermark, checked
    // BEFORE the overlap guard (a replayed batch's docs are of course
    // already spanned).
    manifestStore.foreach { case (msp, params, docIdExpr) =>
      val docDelta = delta
        .select(docIdExpr.cast("long").as("doc_id"), col("text"))
      // a docIdExpr that fails to parse a delivered path would pack NULL
      // ids silently (the packing's min/max probe treats the batch as
      // empty) — misconfiguration fails fast instead
      val nNull = docDelta.filter(col("doc_id").isNull).count()
      if (nNull > 0) throw new IllegalStateException(
        s"manifest docIdExpr produced $nNull null id(s) for this batch — " +
          "every delivered file must map to a numeric packing id")
      if (graft.sources.ManifestStore.exists(msp)) {
        val committed =
          batchId >= 0 && batchId <= graft.sources.ManifestStore.readStats(msp)._2
        if (!committed) {
          val overlap = graft.sources.ManifestStore.read(spark, msp).spans
            .select(col("doc_id")).distinct()
            .join(docDelta.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .count()
          if (overlap > 0) throw new IllegalStateException(
            s"manifest stream maintenance is append-only: $overlap delta " +
              "doc(s) already have published spans — rebuild the manifest " +
              "(ManifestStore.write) for replacement/deletion workloads")
          graft.sources.ManifestStore.append(spark, docDelta, "doc_id",
            "text", msp, params, batchId)
        }
      } else if (!docDelta.isEmpty)
        graft.sources.ManifestStore.write(docDelta, "doc_id", "text", msp,
          params, batchId)
    }
    // the ANN store is maintained the same way: the first non-empty batch
    // trains the cells, every later batch is assigned with the STORED
    // centroids and appended (replaced chunk ids tombstone themselves via
    // the upsert's affected-id list); retrain is a drift-triggered
    // maintenance job, never an inline rebuild
    vectorStorePath.foreach { vsp =>
      val vecDelta = chunks.select(col("id"), col("vector"))
      if (VectorStore.vectorsExist(vsp))
        VectorStore.upsertVectors(spark, vecDelta, "id", "vector",
          removedChunkIds, vsp,
          dim = embedDim, batchId = batchId)
      else if (!vecDelta.isEmpty)
        VectorStore.write(vecDelta, "vector", vsp,
          dim = embedDim, k = vectorStoreK, batchId = batchId)
      // the PQ codes artifact is maintained beside the vectors with the
      // SAME per-batch contract: the first batch trains the sub-codebooks
      // (cell layout shared with the vector store's centroids), every
      // later batch encodes its delta with the STORED codebook literals
      // and appends — serving ADC never waits for a rebuild
      pqStorePath.foreach { psp =>
        // guard: the first batch can skip the vector-store build (empty
        // vecDelta) — reading centroids then would throw and kill the
        // stream; PQ maintenance simply waits for the cells to exist
        if (VectorStore.vectorsExist(vsp)) {
          val centroids = VectorStore.readCentroids(vsp)
          if (VectorStore.pqExists(psp))
            VectorStore.upsertPqCodes(spark, vecDelta, "id", "vector",
              removedChunkIds, psp, centroids, batchId = batchId)
          else if (!vecDelta.isEmpty)
            VectorStore.writePq(vecDelta, "vector", psp,
              m = pqM, ksub = pqKsub, centroids = centroids)
        }
      }
    }
    // The chunk store commits LAST (r10 crash-consistency fix): it is the
    // state `skipUnchanged` derives the next delta from, so it must only
    // reflect batches whose index maintenance COMPLETED. A crash anywhere
    // above leaves the chunk store without this batch — the replay
    // recomputes the same delta (sigs still differ), the index upserts
    // no-op behind their batch-id watermarks, and the chunk upsert then
    // commits. The old order (chunks first) let a crash between the chunk
    // commit and the index upserts starve every index PERMANENTLY: the
    // replayed delta came back empty and the early return skipped them.
    if (storeExists) ChunkStore.upsert(chunks, storePath) // empty delta no-ops inside
    else if (!chunks.isEmpty) ChunkStore.upsert(chunks, storePath)
  }

  /** Reconcile every serving artifact against the LIVE dropzone listing —
    * the deletion path the stream itself cannot see. `binaryFile` emits
    * no delete events, so a file REMOVED from the dropzone keeps serving
    * from every store forever; the reference's watcher has the same blind
    * spot and ships manual cleanup tooling instead
    * (scripts/dev/tools/cleanup_kind.py:53-123, qdrant_delete_by_ids.py).
    * Here the reconcile is ONE metadata-grain job — run it from the
    * stream host on a period or on demand:
    *
    *  - list the dropzone (paths only — the binary source prunes the
    *    content column, so no file bytes are read) and canonicalize with
    *    the SAME relpath/ignore rules as ingest;
    *  - anti-join the chunk store's live (path → document, chunk id)
    *    mapping against the listing. File-backed documents die with
    *    their path; chat-export documents live under a VIRTUAL path
    *    (`chatgpt/<conversation>`), so they die by `content_sig` — their
    *    source file's raw-byte sha256, carried through routing — matched
    *    against the live `.json` files' sigs (hashed only when chat docs
    *    are actually stored);
    *  - feed the dead documents to each artifact's EXISTING deletedIds
    *    tombstone path (text index + band store by doc path, vector + PQ
    *    stores by chunk id) and drop their chunks from the chunk store.
    *
    * Replays are safe twice over: the stores' batch-id watermark no-ops a
    * re-delivered reconcile, and a re-run after success finds zero dead
    * documents. Returns the number of documents removed, or
    * [[ReconcileStale]] (-1) when a stale batchId skipped the whole pass
    * — deletions were NOT applied and the caller should retry with a
    * fresh id.
    */
  def reconcileDeletions(
      spark: SparkSession,
      dropzone: String,
      storePath: String,
      textIndexPath: Option[String] = None,
      vectorStorePath: Option[String] = None,
      pqStorePath: Option[String] = None,
      bandStorePath: Option[String] = None,
      embedDim: Int = 64,
      batchId: Long = -1L): Long = {
    val storeExists = {
      val p = new org.apache.hadoop.fs.Path(storePath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    if (!storeExists) return 0L
    val listing = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .load(dropzone)
    val livePaths = listing
      .withColumn("path", FileIngest.canonicalRelpath(col("path"), dropzone))
      .filter(FileIngest.keepFile(col("path")))
      .select(col("path"))
    // column-pruned store scan: id/document_id/path/content_sig only
    val stored = ChunkStore.read(spark, storePath)
      .select(col("id"), col("document_id"), col("path"), col("content_sig"))
    val isVirtual = col("path").startsWith("chatgpt/")
    val deadFileBacked = stored.filter(!isVirtual)
      .join(livePaths, Seq("path"), "left_anti")
    // chat-export docs: hash live .json bytes ONLY when any are stored
    val deadVirtual =
      if (stored.filter(isVirtual).isEmpty) stored.limit(0)
      else {
        val liveSigs = listing
          .withColumn("relpath", FileIngest.canonicalRelpath(col("path"), dropzone))
          .filter(FileIngest.keepFile(col("relpath")) &&
            col("relpath").endsWith(".json"))
          .select(sha2(col("content"), 256).as("content_sig"))
          .distinct()
        stored.filter(isVirtual)
          .join(liveSigs, Seq("content_sig"), "left_anti")
      }
    // Consistency guard (r10): an explicit batchId at or below any target
    // store's watermark would make every index tombstone below a silent
    // no-op while the chunk deletion at the end still ran — destroying the
    // (path → chunk id) mapping a RETRY needs to tombstone the indexes.
    // A stale id must no-op the WHOLE reconcile, not half of it. The skip
    // returns the DISTINCT [[ReconcileStale]] sentinel and logs (r10
    // ADVICE): a caller whose batchId space lags the watermarks — or a
    // same-id crash retry — must be able to tell "skipped, retry with a
    // fresh id" from the normal "nothing dead" 0.
    val stale = batchId >= 0 && (
      textIndexPath.filter(TextIndex.exists)
        .map(TextIndex.lastBatchId) ++
      bandStorePath.filter(graft.sources.BandStore.exists)
        .map(p => graft.sources.BandStore.readStats(p)._2) ++
      vectorStorePath.filter(VectorStore.vectorsExist)
        .map(p => VectorStore.readIncStats(p)._4)
    ).exists(batchId <= _)
    if (stale) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"reconcileDeletions skipped: batchId=$batchId is at or below a " +
          "target store's replay watermark; deletions NOT applied — retry " +
          "with a fresh batch id")
      return ReconcileStale
    }
    val dead = deadFileBacked.unionByName(deadVirtual).localCheckpoint()
    val nDocs = dead.select(col("document_id")).distinct().count()
    if (nDocs == 0L) return 0L
    val deadPaths = dead.select(col("path")).distinct()
    val deadChunkIds = dead.select(col("id"))
    textIndexPath.foreach { tip =>
      if (TextIndex.exists(tip))
        TextIndex.upsert(spark,
          deadPaths.select(col("path"), lit("").as("text")).limit(0),
          "path", "text", deadPaths, tip, batchId)
    }
    bandStorePath.foreach { bsp =>
      if (graft.sources.BandStore.exists(bsp))
        graft.sources.BandStore.upsert(spark,
          deadPaths.select(col("path"), lit("").as("text")).limit(0),
          "path", "text", deadPaths, bsp,
          numHashes = 32, bands = 8, batchId = batchId)
    }
    vectorStorePath.foreach { vsp =>
      if (VectorStore.vectorsExist(vsp)) {
        val emptyVecs = deadChunkIds
          .select(col("id"), array().cast("array<double>").as("vector"))
          .limit(0)
        VectorStore.upsertVectors(spark, emptyVecs, "id", "vector",
          deadChunkIds, vsp, dim = embedDim, batchId = batchId)
        pqStorePath.foreach { psp =>
          if (VectorStore.pqExists(psp))
            VectorStore.upsertPqCodes(spark, emptyVecs, "id", "vector",
              deadChunkIds, psp, VectorStore.readCentroids(vsp),
              batchId = batchId)
        }
      }
    }
    // chunks go LAST: the chunk store is the live (path → id) mapping the
    // index deletions above are computed from
    ChunkStore.deleteDocuments(spark, storePath,
      dead.select(col("document_id")))
    nDocs
  }

  /** Start the streaming ingest; returns the query (caller manages
    * lifecycle / awaitTermination).
    */
  def start(
      spark: SparkSession,
      dropzone: String,
      storePath: String,
      checkpoint: String,
      triggerInterval: String = "2 seconds",
      maxFilesPerTrigger: Int = 64,
      chunkSize: Int = Chunker.DefaultSize,
      chunkOverlap: Int = Chunker.DefaultOverlap,
      embedDim: Int = 64,
      skipUnchangedFiles: Boolean = true,
      media: Option[(graft.operators.MediaService.Config,
        graft.operators.MediaService.Config)] = None,
      textIndexPath: Option[String] = None,
      vectorStorePath: Option[String] = None,
      vectorStoreK: Int = 16,
      pqStorePath: Option[String] = None,
      bandStorePath: Option[String] = None,
      skipLedgerPath: Option[String] = None): StreamingQuery = {
    val stream = spark.readStream
      .format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .load(dropzone)

    stream.writeStream
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark,
          batch.select(col("path"), col("content"), col("length"),
            col("modificationTime")),
          dropzone, storePath, chunkSize, chunkOverlap, embedDim,
          skipUnchangedFiles, media, textIndexPath, vectorStorePath,
          vectorStoreK, batchId, pqStorePath,
          bandStorePath = bandStorePath,
          skipLedgerPath = skipLedgerPath)
      }
      .start()
  }

  /** Read the accumulated per-batch skip ledger:
    * `(batch, path, kind, bytes, reason)`, empty (with the full schema)
    * when no batch has skipped anything yet.
    */
  def readSkipLedger(spark: SparkSession, path: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "path STRING, kind STRING, bytes BIGINT, reason STRING, batch BIGINT")
    if (!graft.sources.GenStore.hasParquetData(new java.io.File(path)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      spark.catalog.refreshByPath(path) // batches land out-of-band
      graft.sources.GenStore.open(spark, path)
        .withColumn("batch", col("batch").cast("long"))
    }
  }
}
