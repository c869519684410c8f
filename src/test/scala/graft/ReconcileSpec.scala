package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BandStore, ChunkStore, TextIndex, VectorStore}
import graft.streaming.Dropzone

/** Streaming deletion reconciliation (r7 VERDICT Missing #1): the file
  * stream emits no delete events, so a file REMOVED from the dropzone
  * keeps serving from every artifact until [[Dropzone.reconcileDeletions]]
  * anti-joins the stores against the live listing and feeds the existing
  * deletedIds tombstone paths. Reference parity: the reference watcher has
  * the same blind spot and ships manual cleanup tooling instead
  * (scripts/dev/tools/cleanup_kind.py:53-123, qdrant_delete_by_ids.py).
  */
class ReconcileSpec extends AnyFunSuite with ScratchDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def filesFrame(dropzone: String): DataFrame = {
    spark.catalog.refreshByPath(dropzone) // files changed out-of-band
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .load(dropzone)
      .select(col("path"), col("content"), col("length"),
        col("modificationTime"))
  }

  test("a deleted file leaves chunk store, BM25, ANN, PQ and band serving; replay no-op; survives compaction") {
    val dropzone: Path = scratchDir("graft-rec-dz")
    val store = scratchDir("graft-rec-store").resolve("chunks").toString
    val tindex = scratchDir("graft-rec-ti").resolve("idx").toString
    val vstore = scratchDir("graft-rec-vs").resolve("idx").toString
    val pstore = scratchDir("graft-rec-pq").resolve("idx").toString
    val bstore = scratchDir("graft-rec-bs").resolve("idx").toString

    Files.writeString(dropzone.resolve("keep.txt"),
      "spark join engine shuffles rows by key and builds hash tables " * 3)
    Files.writeString(dropzone.resolve("drop.txt"),
      "filter scan pushdown prunes row groups with statistics " * 3)

    def ingest(batchId: Long): Unit = Dropzone.processBatch(
      spark, filesFrame(dropzone.toString), dropzone.toString, store,
      60, 0, 8, skipUnchangedFiles = true,
      textIndexPath = Some(tindex),
      vectorStorePath = Some(vstore), vectorStoreK = 2,
      batchId = batchId,
      pqStorePath = Some(pstore), pqM = 4, pqKsub = 2,
      bandStorePath = Some(bstore))

    ingest(0L)

    def storedPaths = ChunkStore.read(spark, store)
      .select("path").distinct().collect().map(_.getString(0)).toSet
    def storedIds = ChunkStore.read(spark, store)
      .select("id").collect().map(_.getString(0)).toSet
    def postingDocs = TextIndex.read(spark, tindex).postings
      .select("doc").distinct().collect().map(_.getString(0)).toSet
    def liveVecIds = VectorStore.read(spark, vstore, planes = 8, dim = 8,
      idCol = "id").vectors.select("id").collect().map(_.getString(0)).toSet
    def livePqIds = VectorStore.readPq(spark, pstore, idCol = "id")
      .codes.select("id").collect().map(_.getString(0)).toSet
    def bandDocs = BandStore.read(spark, bstore, 32, 8)
      .rows.select("c_id").distinct().collect().map(_.getString(0)).toSet

    assert(storedPaths == Set("keep.txt", "drop.txt"))
    assert(postingDocs == Set("keep.txt", "drop.txt"))
    assert(bandDocs == Set("keep.txt", "drop.txt"))
    val idsBefore = storedIds
    assert(liveVecIds == idsBefore && livePqIds == idsBefore)
    val keepN = TextIndex.read(spark, tindex).n

    // the deletion the stream cannot see
    Files.delete(dropzone.resolve("drop.txt"))
    val removed = Dropzone.reconcileDeletions(spark, dropzone.toString,
      store, Some(tindex), Some(vstore), Some(pstore), Some(bstore),
      embedDim = 8, batchId = 1L)
    assert(removed == 1L, s"expected 1 reconciled document, got $removed")

    assert(storedPaths == Set("keep.txt"))
    assert(postingDocs == Set("keep.txt"))
    assert(bandDocs == Set("keep.txt"))
    assert(storedIds == liveVecIds && storedIds == livePqIds,
      "ANN/PQ serving diverged from the chunk store after reconcile")
    // exact-integer stats dropped the dead doc (1 of 2 docs)
    assert(TextIndex.read(spark, tindex).n == keepN - 1)

    // replay with the SAME id: the stale guard skips the whole pass and
    // says so via the sentinel (distinct from "nothing dead" — r10 ADVICE)
    val replay = Dropzone.reconcileDeletions(spark, dropzone.toString,
      store, Some(tindex), Some(vstore), Some(pstore), Some(bstore),
      embedDim = 8, batchId = 1L)
    assert(replay == Dropzone.ReconcileStale)

    // the tombstoned state must survive compaction byte-for-byte
    TextIndex.compact(spark, tindex)
    VectorStore.compactVectors(spark, vstore, idCol = "id")
    VectorStore.compactVectors(spark, pstore, idCol = "id", sub = "codes")
    BandStore.compact(spark, bstore)
    assert(postingDocs == Set("keep.txt"))
    assert(bandDocs == Set("keep.txt"))
    assert(storedIds == liveVecIds && storedIds == livePqIds)
  }

  test("chat-export documents die with their source file (virtual paths, sig-matched)") {
    val dropzone: Path = scratchDir("graft-rec-chat-dz")
    val store = scratchDir("graft-rec-chat-store").resolve("chunks").toString
    val tindex = scratchDir("graft-rec-chat-ti").resolve("idx").toString

    val exportJson =
      """[
        {"id": "conv-1", "title": "Spark questions",
         "create_time": 1704103200, "update_time": 1704106800,
         "mapping": {
           "n1": {"message": {"author": {"role": "user"},
                  "content": {"parts": ["how do joins work?"]}, "create_time": 1704103260}},
           "n2": {"message": {"author": {"role": "assistant"},
                  "content": {"parts": ["they match rows by key"]}, "create_time": 1704103320}}
         }},
        {"conversation_id": "conv-2", "mapping": {
           "a": {"message": {"author": {"role": "user"},
                 "content": {"parts": ["what is a shuffle"]}, "create_time": 1704200000}}}}
      ]"""
    Files.writeString(dropzone.resolve("export.json"), exportJson)
    Files.writeString(dropzone.resolve("note.txt"), "a plain note that stays")

    Dropzone.processBatch(
      spark, filesFrame(dropzone.toString), dropzone.toString, store,
      200, 0, 8, skipUnchangedFiles = true,
      textIndexPath = Some(tindex), batchId = 0L)

    def storedPaths = ChunkStore.read(spark, store)
      .select("path").distinct().collect().map(_.getString(0)).toSet
    assert(storedPaths == Set("chatgpt/conv-1", "chatgpt/conv-2", "note.txt"))

    // deleting the export must kill BOTH virtual documents — they match
    // no file path, only the source file's content_sig
    Files.delete(dropzone.resolve("export.json"))
    val removed = Dropzone.reconcileDeletions(spark, dropzone.toString,
      store, Some(tindex), batchId = 1L)
    assert(removed == 2L, s"expected both conversations reconciled, got $removed")
    assert(storedPaths == Set("note.txt"))
    assert(TextIndex.read(spark, tindex).postings
      .select("doc").distinct().collect().map(_.getString(0)).toSet == Set("note.txt"))

    // STALE batchId with a genuinely dead file: the index tombstones
    // would be watermark-no-op'd, so the whole reconcile must no-op —
    // the old behavior deleted the chunks anyway, destroying the
    // (path -> chunk id) mapping a fresh-id retry needs (r10 review)
    Files.delete(dropzone.resolve("note.txt"))
    val stale = Dropzone.reconcileDeletions(spark, dropzone.toString,
      store, Some(tindex), batchId = 1L) // == the index's watermark
    assert(stale == Dropzone.ReconcileStale,
      "stale reconcile must no-op consistently and return the sentinel")
    assert(storedPaths == Set("note.txt"),
      "stale reconcile must not delete chunks while indexes skip")
    // a fresh id then completes the deletion everywhere (the now-empty
    // chunk store may have no parquet left to read — that IS the success)
    assert(Dropzone.reconcileDeletions(spark, dropzone.toString,
      store, Some(tindex), batchId = 2L) == 1L)
    assert(!graft.sources.GenStore.hasParquetData(new java.io.File(store)) ||
      storedPaths.isEmpty)
    assert(TextIndex.read(spark, tindex).postings
      .select("doc").distinct().collect().isEmpty)
  }

  test("a store emptied by deletion-compaction regrows readable (r11 marker layout)") {
    // r10's empty-table fallback wrote a FLAT root-level parquet part into
    // the epoch dir; a later incremental upsert appended gen=N/bucket=M
    // partition directories beside it and Spark rejected the mixed layout
    // — the store was permanently unreadable (compact cannot heal what it
    // cannot read). r11 records emptiness via the _graft_empty.json
    // sidecar instead; this test walks the full empty→regrow cycle for
    // all three gen-store layouts and pins schema layout-independence.
    import spark.implicits._
    val docs = Seq(
      ("d1", "spark join engine shuffles rows by key and builds hash tables " * 3),
      ("d2", "filter scan pushdown prunes row groups with statistics " * 3))
      .toDF("id", "text")
    val noDocs = Seq.empty[(String, String)].toDF("id", "text")
    val noIds = Seq.empty[String].toDF("id")
    val fresh = Seq(
      ("d3", "aggregate pushdown merges partial results on the map side " * 3))
      .toDF("id", "text")

    // --- BandStore
    val bstore = scratchDir("graft-regrow-bs").resolve("idx").toString
    BandStore.write(docs, "id", "text", bstore, 32, 8)
    BandStore.upsert(spark, noDocs, "id", "text",
      Seq("d1", "d2").toDF("id"), bstore, 32, 8)
    BandStore.compact(spark, bstore)
    val bandEmpty = BandStore.read(spark, bstore, 32, 8).rows
    assert(bandEmpty.count() == 0, "emptied band store must read as empty")
    BandStore.upsert(spark, fresh, "id", "text", noIds, bstore, 32, 8)
    val bandRegrown = BandStore.read(spark, bstore, 32, 8).rows
    assert(bandRegrown.select("c_id").distinct().collect()
      .map(_.getString(0)).toSet == Set("d3"),
      "regrown band store must serve the new delta")
    // ADVICE r10 low: the empty layout must read with the SAME schema as
    // the partitioned one (names + types; the old flat part wrote bucket
    // cols as LONG data columns where directory inference yields INT)
    assert(bandEmpty.schema.map(f => (f.name, f.dataType)) ==
      bandRegrown.schema.map(f => (f.name, f.dataType)),
      s"empty vs partitioned schema diverged:\n${bandEmpty.schema}\n${bandRegrown.schema}")

    // --- TextIndex
    val tindex = scratchDir("graft-regrow-ti").resolve("idx").toString
    TextIndex.write(docs, "id", "text", tindex)
    TextIndex.upsert(spark, noDocs, "id", "text",
      Seq("d1", "d2").toDF("id"), tindex)
    TextIndex.compact(spark, tindex)
    assert(TextIndex.read(spark, tindex).postings.count() == 0)
    TextIndex.upsert(spark, fresh, "id", "text", noIds, tindex)
    val ti = TextIndex.read(spark, tindex)
    assert(ti.postings.select("doc").distinct().collect()
      .map(_.getString(0)).toSet == Set("d3"))
    assert(ti.n == 1L, "regrown index stats must count only the new doc")

    // --- VectorStore (vectors layout; codes shares the codepath)
    val vstore = scratchDir("graft-regrow-vs").resolve("idx").toString
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.0)),
      (2L, Array(0.0, 1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    VectorStore.write(vecs, "embedding", vstore, planes = 2, dim = 4, k = 2)
    VectorStore.upsertVectors(spark,
      Seq.empty[(Long, Array[Double])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", Seq(1L, 2L).toDF("vec_id"), vstore,
      planes = 2, dim = 4)
    VectorStore.compactVectors(spark, vstore)
    assert(VectorStore.read(spark, vstore, 2, 4).vectors.count() == 0)
    VectorStore.upsertVectors(spark,
      Seq((3L, Array(0.0, 0.0, 1.0, 0.0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", Seq.empty[Long].toDF("vec_id"), vstore,
      planes = 2, dim = 4)
    assert(VectorStore.read(spark, vstore, 2, 4).vectors
      .select("vec_id").collect().map(_.getLong(0)).toSet == Set(3L),
      "regrown vector store must serve the new delta")
  }

  test("deleting every document empties the affected chunk-store buckets (dynamic-overwrite gap)") {
    // deleteDocuments' survivors frame can be EMPTY for a bucket; a bare
    // dynamic overwrite would silently keep the old files in that case
    import spark.implicits._
    val store = scratchDir("graft-rec-empty").resolve("chunks").toString
    val chunks = Seq(
      ("c1", "d1", "a.txt", "body one"),
      ("c2", "d2", "b.txt", "body two"))
      .toDF("id", "document_id", "path", "text")
    // the 64-bucket layout puts d1 and d2 in buckets of their own
    LegacyStores.chunkStore(chunks, store)
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(store))
      .filter(_.getFileName.toString.startsWith("doc_bucket=")).count() == 2)
    ChunkStore.deleteDocuments(spark, store,
      Seq("d1", "d2").toDF("document_id"))
    // a fully-emptied table collapses to the clean "no store yet" state
    // (an empty parquet dir is schemaless and would poison later reads)
    assert(!new java.io.File(store).exists(),
      "emptied store must not keep serving its old files")
    // partial deletion keeps the other bucket's rows serving
    LegacyStores.chunkStore(chunks, store)
    ChunkStore.deleteDocuments(spark, store, Seq("d1").toDF("document_id"))
    assert(ChunkStore.read(spark, store)
      .select("id").collect().map(_.getString(0)).toSet == Set("c2"))
  }
}
