package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BandStore, ChunkStore, TextIndex, VectorStore}
import graft.streaming.Dropzone

/** Reconcile-under-load soak (r8 VERDICT Next #8): ReconcileSpec proves the
  * deletion pass quiesced; this spec interleaves it with live micro-batches
  * — adds, rewrites, deletes and legitimate re-drops of RECONCILED paths —
  * and after every step asserts all five serving artifacts agree exactly
  * with the live dropzone listing. The orderings under test:
  *
  *  - reconcile then a LATER batch re-drops the same path: the doc must
  *    serve again (its new generation outlives the reconcile tombstone);
  *  - a batch re-drops the path, then a STALE reconcile replay (computed
  *    against the pre-re-drop listing, same batchId) arrives: the batch-id
  *    watermark no-ops it — the re-dropped doc is NOT resurrected-then-
  *    killed, closing the snapshot-vs-concurrent-upsert race at the only
  *    grain Structured Streaming executes (foreachBatch serializes batches;
  *    a reconcile runs between them, never inside one).
  */
class ReconcileSoakSpec extends AnyFunSuite with ScratchDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def filesFrame(dropzone: String): DataFrame = {
    spark.catalog.refreshByPath(dropzone)
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .load(dropzone)
      .select(col("path"), col("content"), col("length"),
        col("modificationTime"))
  }

  test("interleaved batches + reconciles keep every artifact equal to the live listing") {
    val dropzone: Path = scratchDir("graft-soak-dz")
    val root = scratchDir("graft-soak-store")
    val store = root.resolve("chunks").toString
    val tindex = root.resolve("tindex").toString
    val vstore = root.resolve("vstore").toString
    val pstore = root.resolve("pq").toString
    val bstore = root.resolve("bands").toString

    def write(name: String, body: String): Unit =
      Files.writeString(dropzone.resolve(name), body)
    def body(seed: Int): String =
      (1 to 12).map(i => s"word${(seed * 31 + i * 7) % 97} join scan shuffle")
        .mkString(" ")

    var nextBatch = 0L
    def ingest(): Unit = {
      Dropzone.processBatch(
        spark, filesFrame(dropzone.toString), dropzone.toString, store,
        60, 0, 8, skipUnchangedFiles = true,
        textIndexPath = Some(tindex),
        vectorStorePath = Some(vstore), vectorStoreK = 2,
        batchId = nextBatch,
        pqStorePath = Some(pstore), pqM = 4, pqKsub = 2,
        bandStorePath = Some(bstore))
      nextBatch += 1
    }
    def reconcile(): Long = {
      val n = Dropzone.reconcileDeletions(spark, dropzone.toString,
        store, Some(tindex), Some(vstore), Some(pstore), Some(bstore),
        embedDim = 8, batchId = nextBatch)
      nextBatch += 1
      n
    }

    def liveFiles: Set[String] = {
      import scala.jdk.CollectionConverters._
      Files.list(dropzone).iterator().asScala
        .map(_.getFileName.toString).toSet
    }
    def storedPaths = ChunkStore.read(spark, store)
      .select("path").distinct().collect().map(_.getString(0)).toSet
    def chunkIds = ChunkStore.read(spark, store)
      .select("id").collect().map(_.getString(0)).toSet
    def postingDocs = TextIndex.read(spark, tindex).postings
      .select("doc").distinct().collect().map(_.getString(0)).toSet
    def bandDocs = BandStore.read(spark, bstore, 32, 8)
      .rows.select("c_id").distinct().collect().map(_.getString(0)).toSet
    def vecIds = VectorStore.read(spark, vstore, planes = 8, dim = 8,
      idCol = "id").vectors.select("id").collect().map(_.getString(0)).toSet
    def pqIds = VectorStore.readPq(spark, pstore, idCol = "id")
      .codes.select("id").collect().map(_.getString(0)).toSet
    def assertConverged(tag: String): Unit = {
      val live = liveFiles
      assert(storedPaths == live, s"[$tag] chunk store != listing")
      assert(postingDocs == live, s"[$tag] text index != listing")
      assert(bandDocs == live, s"[$tag] band store != listing")
      val ids = chunkIds
      assert(vecIds == ids, s"[$tag] ANN store != chunk store")
      assert(pqIds == ids, s"[$tag] PQ store != chunk store")
      assert(TextIndex.read(spark, tindex).n == live.size.toLong,
        s"[$tag] text-index doc count != listing")
    }

    // seed corpus
    (1 to 4).foreach(i => write(s"f$i.txt", body(i)))
    ingest()
    assertConverged("seed")

    var deleted = List.empty[String] // reconciled paths eligible for re-drop
    for (round <- 1 to 4) {
      // live churn: one add + one rewrite, as a normal micro-batch
      write(s"new$round.txt", body(100 + round))
      write(s"f${round % 4 + 1}.txt", body(200 + round * 17))
      ingest()
      assertConverged(s"round$round-churn")

      // deletion the stream cannot see, reconciled under churn
      val victim = liveFiles.toSeq.sorted.head
      Files.delete(dropzone.resolve(victim))
      assert(reconcile() == 1L, s"round $round: expected 1 reconciled doc")
      deleted ::= victim
      assertConverged(s"round$round-reconcile")

      // resurrection path: re-drop a PREVIOUSLY reconciled file — the new
      // generation must outlive the old reconcile tombstone
      if (round >= 2) {
        val back = deleted.last
        deleted = deleted.dropRight(1)
        if (!Files.exists(dropzone.resolve(back))) {
          write(back, body(300 + round))
          ingest()
          assertConverged(s"round$round-redrop")
        }
      }
    }

    // stale-reconcile replay after a re-drop: the replay recomputes its
    // dead set against the LIVE listing (never a stored snapshot), so a
    // path re-dropped since the original reconcile is alive again and the
    // replay must not kill it — neither via recomputation (it finds zero
    // dead) nor via its stale batchId (older than the re-drop's, so even
    // a tombstone append would be watermark-no-op'd by every store)
    val victim = liveFiles.toSeq.sorted.head
    Files.delete(dropzone.resolve(victim))
    val staleId = nextBatch
    assert(Dropzone.reconcileDeletions(spark, dropzone.toString,
      store, Some(tindex), Some(vstore), Some(pstore), Some(bstore),
      embedDim = 8, batchId = staleId) == 1L)
    nextBatch += 1
    write(victim, body(999)) // the re-drop that races the reconcile
    ingest()
    assertConverged("post-redrop")
    assert(Dropzone.reconcileDeletions(spark, dropzone.toString,
      store, Some(tindex), Some(vstore), Some(pstore), Some(bstore),
      embedDim = 8, batchId = staleId) == Dropzone.ReconcileStale,
      "stale replay must skip with the distinct sentinel (r10 ADVICE)")
    assertConverged("stale-replay")
  }
}
