package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ChunkStore
import graft.streaming.Dropzone

/** Streaming dropzone: files land → micro-batch → idempotent store upsert
  * (SURVEY §2.9 ST1-ST4).
  */
class StreamingSpec extends AnyFunSuite with ScratchDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("files are ingested as they arrive; re-dropped files replace themselves") {
    val dropzone: Path = scratchDir("graft-stream-dz")
    val store = scratchDir("graft-stream-store").resolve("chunks").toString
    val checkpoint = scratchDir("graft-stream-ckpt").toString

    Files.writeString(dropzone.resolve("a.txt"), "first document body")

    val query = Dropzone.start(spark, dropzone.toString, store, checkpoint,
      chunkSize = 200, chunkOverlap = 40)
    try {
      query.processAllAvailable()
      val after1 = ChunkStore.read(spark, store)
      assert(after1.select("path").distinct().collect().map(_.getString(0)).toSet
        == Set("a.txt"))

      // second file arrives
      Files.writeString(dropzone.resolve("b.txt"), "second document body")
      query.processAllAvailable()
      val after2 = ChunkStore.read(spark, store)
      assert(after2.select("path").distinct().collect().map(_.getString(0)).toSet
        == Set("a.txt", "b.txt"))

      // a changed file re-dropped under a NEW name that maps to the same
      // document identity is the batch path's job; the stream's job is that
      // replays do not duplicate: counts are stable across an empty trigger.
      val n = after2.count()
      query.processAllAvailable()
      assert(ChunkStore.read(spark, store).count() == n)
    } finally query.stop()
  }

  test("skip ledger accumulates across micro-batches; replays stay idempotent") {
    val dropzone: Path = scratchDir("graft-ledger-dz")
    val store = scratchDir("graft-ledger-store").resolve("chunks").toString
    val checkpoint = scratchDir("graft-ledger-ckpt").toString
    val ledger = scratchDir("graft-ledger-out").resolve("ledger").toString

    // batch 1: one kept file, one whitespace-only (empty_file), one
    // tag-only html (extraction_empty)
    Files.writeString(dropzone.resolve("keep.txt"), "a real document body")
    Files.writeString(dropzone.resolve("blank.txt"), "   ")
    Files.writeString(dropzone.resolve("tags.html"),
      "<html><body><div></div></body></html>")

    val query = Dropzone.start(spark, dropzone.toString, store, checkpoint,
      chunkSize = 200, chunkOverlap = 40, skipLedgerPath = Some(ledger))
    try {
      query.processAllAvailable()
      def rows() = Dropzone.readSkipLedger(spark, ledger)
        .select("batch", "path", "reason").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val after1 = rows()
      assert(after1.map(t => (t._2, t._3)) ==
        Set("blank.txt" -> "empty_file", "tags.html" -> "extraction_empty"),
        s"first batch ledger wrong: $after1")
      assert(!after1.exists(_._2 == "keep.txt"), "kept file leaked into the ledger")

      // a later batch's drops land under their own batch id — the ledger
      // ACCUMULATES (the reference records a ledger per ingest run)
      Files.writeString(dropzone.resolve("blank2.txt"), " ")
      query.processAllAvailable()
      val after2 = rows()
      assert(after2.map(t => (t._2, t._3)) == after1.map(t => (t._2, t._3)) +
        ("blank2.txt" -> "empty_file"))
      assert(after2.map(_._1).size >= 2,
        s"second batch's drop must carry its own batch id: $after2")

      // an empty trigger rewrites nothing
      query.processAllAvailable()
      assert(rows() == after2)
    } finally query.stop()
  }

  test("a replayed batch whose files no longer skip clears its stale ledger rows") {
    // r11 advice: the batch=N overwrite used to be guarded by !isEmpty,
    // so an emptied file re-delivered WITH content left the prior
    // attempt's skip row in batch=N forever; the unconditional write is
    // the deletion
    import org.apache.spark.sql.DataFrame
    val store = scratchDir("graft-replay-store").resolve("chunks").toString
    val ledger = scratchDir("graft-replay-ledger").resolve("ledger").toString
    def files(body: String): DataFrame = {
      import spark.implicits._
      Seq(("dz/x.txt", body.getBytes("UTF-8")))
        .toDF("path", "content")
        .withColumn("length", octet_length(col("content")).cast("long"))
    }
    def run(body: String): Unit = Dropzone.processBatch(
      spark, files(body), "dz", store, 200, 40, 8, skipUnchangedFiles = true,
      batchId = 7L, skipLedgerPath = Some(ledger))
    def ledgerRows() = Dropzone.readSkipLedger(spark, ledger)
      .select("batch", "path", "reason").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

    run("   ") // whitespace-only delivery: a skip row lands under batch=7
    assert(ledgerRows() == Set((7L, "x.txt", "empty_file")))

    run("now a real document body") // batch 7 REPLAYED with content
    assert(ledgerRows() == Set(),
      "the replayed batch's stale skip row must be cleared")
    assert(ChunkStore.read(spark, store)
      .select("path").distinct().collect().map(_.getString(0)).toSet
      == Set("x.txt"), "the re-delivered content must be ingested")
  }

  test("ensureDzLedger: a stale/corrupt artifact rebuilds from scratch (manifest-last)") {
    // the q105 write-time build is crash-safe by the manifest-last
    // contract: a missing/mismatched manifest must trigger a full
    // rebuild whose subtree cleanup clears any half-written prior state
    val d = "/root/testdata/sf0.001"
    def rows() = {
      val ledger = graft.queries.IngestCatalog.ensureDzLedger(spark, d)
      Dropzone.readSkipLedger(spark, ledger)
        .select("batch", "path", "kind", "bytes", "reason").collect()
        .map(_.toString).sorted.toSeq
    }
    val baseline = rows()
    assert(baseline.nonEmpty, "fixture must produce skip rows")

    val root = java.nio.file.Path.of(
      graft.queries.IngestCatalog.ensureDzLedger(spark, d)).getParent
    // simulate a crash mid-build: kill the manifest AND one batch dir,
    // and plant a junk file where the stream writes — the rebuild must
    // clear it, not merge with it
    java.nio.file.Files.deleteIfExists(root.resolve("_graft_manifest.json"))
    val b0 = root.resolve("ledger").resolve("batch=0")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(b0).iterator().asScala.toSeq
      .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    java.nio.file.Files.writeString(
      root.resolve("ledger").resolve("junk.txt"), "leftover")
    assert(rows() == baseline,
      "rebuild after simulated crash must reproduce the exact ledger")
    assert(!java.nio.file.Files.exists(root.resolve("ledger").resolve("junk.txt")),
      "stale-rebuild cleanup must clear leftover files in the subtree")

    // a mismatched manifest (artifact of a DIFFERENT corpus stamp) also
    // rebuilds — and a second call after that is a manifest-hit no-op
    java.nio.file.Files.writeString(
      root.resolve("_graft_manifest.json"), """{"source_stamp":"bogus"}""")
    assert(rows() == baseline)
    val mf = java.nio.file.Files.readString(root.resolve("_graft_manifest.json"))
    assert(mf.contains(graft.queries.IngestCatalog.DzLedgerScenario) &&
      !mf.contains("bogus"))
  }

  test("streaming ingest maintains the BM25 serving index per micro-batch") {
    import graft.sources.{BandStore, TextIndex, VectorStore}
    val dropzone: Path = scratchDir("graft-stream-tidz")
    val store = scratchDir("graft-stream-tistore").resolve("chunks").toString
    val checkpoint = scratchDir("graft-stream-tickpt").toString
    val tindex = scratchDir("graft-stream-tindex").resolve("idx").toString
    val vstore = scratchDir("graft-stream-vstore").resolve("idx").toString
    val bstore = scratchDir("graft-stream-bstore").resolve("idx").toString

    Files.writeString(dropzone.resolve("a.txt"), "spark join engine")
    Files.writeString(dropzone.resolve("a2.txt"), "filter scan pushdown code")
    val query = Dropzone.start(spark, dropzone.toString, store, checkpoint,
      chunkSize = 200, chunkOverlap = 40, embedDim = 8,
      textIndexPath = Some(tindex),
      vectorStorePath = Some(vstore), vectorStoreK = 2,
      bandStorePath = Some(bstore))
    try {
      query.processAllAvailable()
      val idx1 = TextIndex.read(spark, tindex)
      assert(idx1.n == 2 && idx1.sumDl == 3 + 4)

      // a third file lands: the index must gain its postings via a DELTA
      // upsert (no rebuild), stats adjusted exactly
      Files.writeString(dropzone.resolve("b.txt"), "hash table probe build")
      query.processAllAvailable()
      val idx2 = TextIndex.read(spark, tindex)
      assert(idx2.n == 3 && idx2.sumDl == 3 + 4 + 4)
      val docsOfSpark = idx2.postings.filter(col("term") === "spark")
        .select("doc").collect().map(_.getString(0)).toSet
      assert(docsOfSpark == Set("a.txt"))
      val gens = spark.read.parquet(graft.sources.GenStore.tableDir(tindex, "postings"))
        .select(col("gen")).distinct().count()
      assert(gens >= 2, "second batch must land as a NEW segment generation")

      // an empty trigger must not touch the index
      query.processAllAvailable()
      val idx3 = TextIndex.read(spark, tindex)
      assert(idx3.n == 3 && idx3.sumDl == 11)

      // the ANN store grew the same way: batch 1 trained the cells, batch
      // 2 was assigned with the STORED centroids and appended
      val vs = VectorStore.read(spark, vstore, planes = 8, dim = 8, idCol = "id")
      assert(vs.vectors.count() == 3, "vector store missing a batch's chunks")
      val vGens = spark.read.parquet(graft.sources.GenStore.tableDir(vstore, "vectors"))
        .select(col("gen")).distinct().count()
      assert(vGens >= 2, "second batch must append a NEW vector segment")
      assert(vs.centroids.length == 2, "inline retrain happened (k changed)")

      // the near-dup band store grew the same way: every ≥3-token doc
      // carries 8 band rows, the second batch landed as a delta append
      val bs = BandStore.read(spark, bstore, 32, 8)
      val bandDocs = bs.rows.select("c_id").distinct()
        .collect().map(_.getString(0)).toSet
      assert(bandDocs == Set("a.txt", "a2.txt", "b.txt"),
        s"band store docs: $bandDocs")
      assert(bs.rows.count() == 3 * 8, "8 band rows per fingerprinted doc")
    } finally query.stop()
  }

  test("replayed micro-batch is a no-op on the text index (foreachBatch idempotency)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.TextIndex
    val path = scratchDir("graft-tindex-replay").resolve("idx").toString
    val b0 = Seq(("a", "spark join")).toDF("doc_id", "text")
    TextIndex.write(b0, "doc_id", "text", path, batchId = 0L)
    val b1 = Seq(("b", "hash probe")).toDF("doc_id", "text")
    val none = b1.select(col("doc_id")).limit(0)
    TextIndex.upsert(spark, b1, "doc_id", "text", none, path, batchId = 1L)
    val before = TextIndex.read(spark, path)
    assert(before.n == 2 && before.sumDl == 4)
    // restart re-delivers batch 1: re-appending would DOUBLE b's tf
    TextIndex.upsert(spark, b1, "doc_id", "text", none, path, batchId = 1L)
    val after = TextIndex.read(spark, path)
    assert(after.n == 2 && after.sumDl == 4, "replay changed stats")
    val tf = after.postings.filter(col("term") === "hash")
      .select("tf").collect().map(_.getLong(0))
    assert(tf.toSeq == Seq(1L), s"replay duplicated postings: ${tf.toSeq}")
    // a NEW batch id still applies
    TextIndex.upsert(spark, Seq(("c", "more text")).toDF("doc_id", "text"),
      "doc_id", "text", none, path, batchId = 2L)
    assert(TextIndex.read(spark, path).n == 3)
  }

  test("ST4: restart from checkpoint resumes without duplicating processed files") {
    val dropzone: Path = scratchDir("graft-restart-dz")
    val store = scratchDir("graft-restart-store").resolve("chunks").toString
    val checkpoint = scratchDir("graft-restart-ckpt").toString

    Files.writeString(dropzone.resolve("one.txt"), "first file before the crash")
    val q1 = Dropzone.start(spark, dropzone.toString, store, checkpoint,
      chunkSize = 200, chunkOverlap = 40)
    try { q1.processAllAvailable() } finally q1.stop()
    val afterFirst = ChunkStore.read(spark, store).count()

    // file lands while the query is down; a new query on the SAME
    // checkpoint must pick it up and must NOT re-duplicate one.txt
    Files.writeString(dropzone.resolve("two.txt"), "second file after restart")
    val q2 = Dropzone.start(spark, dropzone.toString, store, checkpoint,
      chunkSize = 200, chunkOverlap = 40)
    try { q2.processAllAvailable() } finally q2.stop()

    val rows = ChunkStore.read(spark, store)
    assert(rows.count() == afterFirst + 1)
    assert(rows.select("path").distinct().collect().map(_.getString(0)).toSet
      == Set("one.txt", "two.txt"))
  }

  test("ST3: micro-batch skips files already stored with identical content") {
    import org.apache.spark.sql.DataFrame
    val store = scratchDir("graft-st3-store").resolve("chunks").toString
    def files(body: String): DataFrame = {
      import spark.implicits._
      Seq(("dz/a.txt", body.getBytes("UTF-8")))
        .toDF("path", "content")
        .withColumn("length", octet_length(col("content")).cast("long"))
    }
    def run(body: String): Unit = Dropzone.processBatch(
      spark, files(body), "dz", store, 200, 40, 8, skipUnchangedFiles = true)

    run("the first version of the file")
    def partFiles() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Path.of(store)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(_.toString).toSeq.sorted
    }
    val before = partFiles()

    // identical content re-delivered (post-eviction replay / touch):
    // zero buckets rewritten
    run("the first version of the file")
    assert(partFiles() == before, "unchanged re-delivery must not touch the store")

    // changed content under the same path replaces the document's chunks
    run("the second version entirely rewritten")
    val texts = ChunkStore.read(spark, store)
      .filter(col("path") === "a.txt").select("text")
      .collect().map(_.getString(0)).toSeq
    assert(texts.exists(_.contains("second version")))
    assert(!texts.exists(_.contains("first version")))
  }

  test("unchanged re-delivery short-circuits: no empty generation lands in any artifact") {
    import org.apache.spark.sql.DataFrame
    val root = scratchDir("graft-st3b")
    val store = root.resolve("chunks").toString
    val tindex = root.resolve("tindex").toString
    val bstore = root.resolve("bands").toString
    def files(body: String): DataFrame = {
      import spark.implicits._
      Seq(("dz/a.txt", body.getBytes("UTF-8")))
        .toDF("path", "content")
        .withColumn("length", octet_length(col("content")).cast("long"))
    }
    def run(body: String, id: Long): Unit = Dropzone.processBatch(
      spark, files(body), "dz", store, 200, 40, 8, skipUnchangedFiles = true,
      textIndexPath = Some(tindex), bandStorePath = Some(bstore), batchId = id)

    run("stable body that never changes", 0L)
    def postingGens = spark.read
      .parquet(graft.sources.GenStore.tableDir(tindex, "postings"))
      .select(col("gen")).distinct().count()
    val before = postingGens
    // a touch/mtime-bump delivery under a NEW batch id: the delta is
    // empty after skip-unchanged, so no artifact may gain an (empty)
    // segment generation — junk generations count toward compaction
    // triggers and pay ~20 jobs per artifact per batch
    run("stable body that never changes", 1L)
    assert(postingGens == before,
      "empty-delta batch appended a junk generation to the text index")
    // and a REAL change afterwards still lands normally (the 1-doc store
    // immediately auto-compacts — 100% replaced is past the dead-fraction
    // trigger — so assert on the served CONTENT, not the gen count)
    run("a genuinely different body now", 2L)
    val terms = graft.sources.TextIndex.read(spark, tindex).postings
      .select(col("term")).collect().map(_.getString(0)).toSet
    assert(terms.contains("genuinely") && !terms.contains("stable"),
      "real change after a short-circuited batch must still replace the doc")
  }

  test("stream-maintained loader manifest: base write + tail append + replay no-op + append-only guard") {
    // q150's wiring (r16 Next #2): the manifest rides processBatch beside
    // the other stores, but under ManifestStore's append-only contract —
    // each dump packs at the epochs' tails, a replayed batch id is a
    // watermark no-op, and a RE-delivered doc fails fast instead of
    // silently renumbering published sequences.
    import org.apache.spark.sql.DataFrame
    import graft.sources.ManifestStore
    val root = scratchDir("graft-stream-manifest")
    val store = root.resolve("chunks").toString
    val mstore = root.resolve("manifest").toString
    val P = ManifestStore.Params(epochs = 2, buckets = 4, seqLen = 16, shards = 2)
    def files(docs: Seq[(Long, String)]): DataFrame = {
      import spark.implicits._
      docs.map { case (id, t) => (s"dzm/$id.txt", t.getBytes("UTF-8")) }
        .toDF("path", "content")
        .withColumn("length", octet_length(col("content")).cast("long"))
    }
    def run(docs: Seq[(Long, String)], id: Long,
        skip: Boolean = true): Unit = Dropzone.processBatch(
      spark, files(docs), "dzm", store, 400, 0, 8, skipUnchangedFiles = skip,
      batchId = id, manifestStore = Some((mstore, P,
        regexp_extract(col("path"), "(\\d+)", 1))))
    def text(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val base = (0L until 6L).map(i => i -> text(s"base$i-", 10 + i.toInt))
    val delta = (6L until 9L).map(i => i -> text(s"tail$i-", 7 + i.toInt))

    run(base, 0L)  // first batch: full build
    run(delta, 1L) // second dump: tail append
    def serve = ManifestStore.read(spark, mstore).spans.collect()
      .map(_.toString).sorted.toSeq
    val after = serve
    val statsAfter = ManifestStore.readStats(mstore)

    // restart replay of batch 1: the empty-delta short-circuit swallows
    // an unchanged redelivery...
    run(delta, 1L)
    assert(serve == after, "replayed batch mutated the manifest")
    assert(ManifestStore.readStats(mstore) == statsAfter)
    // ...and the ManifestStore WATERMARK swallows it even when the delta
    // survives skip-unchanged (skip disabled) — the layer a restart
    // without chunk-store state depends on, checked BEFORE the overlap
    // guard (a replayed batch's docs are of course already spanned)
    run(delta, 1L, skip = false)
    assert(serve == after, "watermark failed: replayed batch re-appended")
    assert(ManifestStore.readStats(mstore) == statsAfter)

    // stream path ≡ direct-call path (the q149 two-phase discipline)
    val ref = scratchDir("graft-stream-manifest-ref").toString
    ManifestStore.write(files(base).select(
        regexp_extract(col("path"), "(\\d+)", 1).cast("long").as("doc_id"),
        decode(col("content"), "UTF-8").as("text")),
      "doc_id", "text", ref, P)
    ManifestStore.append(spark, files(delta).select(
        regexp_extract(col("path"), "(\\d+)", 1).cast("long").as("doc_id"),
        decode(col("content"), "UTF-8").as("text")),
      "doc_id", "text", ref, P)
    val refRows = ManifestStore.read(spark, ref).spans.collect()
      .map(_.toString).sorted.toSeq
    assert(after == refRows,
      "stream-maintained manifest drifted from the direct write+append")

    // append-only guard: a NEW batch re-delivering a published doc must
    // fail fast, and must not have touched the store
    val ex = intercept[IllegalStateException] {
      run(Seq(3L -> text("edited-", 9)), 2L)
    }
    assert(ex.getMessage.contains("append-only"))
    assert(serve == after, "failed guard batch must leave the manifest untouched")
  }

  test("stream-maintained cluster store: band-first ordering, delta-internal pairs, replay no-op") {
    // q155's wiring: labels ride processBatch beside the band store they
    // probe; the band upsert runs FIRST (delta-internal pairs must see
    // their own fingerprints), the corpus thunk supplies live text for
    // candidate re-shingling, replays are watermark no-ops.
    import org.apache.spark.sql.DataFrame
    import graft.sources.ClusterStore
    val root = scratchDir("graft-stream-clusters")
    val store = root.resolve("chunks").toString
    val bands = root.resolve("bands").toString
    val clusters = root.resolve("clusters").toString
    val U = (0 until 40).map(i => s"u$i")
    def xt(tail: String) = (U.take(36) :+ tail).mkString(" ")
    val base = Seq("a" -> xt("xa xb"), "b" -> xt("xc xd"),
      "s" -> (0 until 30).map(i => s"s$i").mkString(" "))
    val delta = Seq("c" -> xt("xe xf"), // joins the {a, b} cluster
      "p" -> ((0 until 30).map(i => s"v$i").mkString(" ") + " w1 w2"),
      "q" -> ((0 until 30).map(i => s"v$i").mkString(" ") + " w3 w4")) // delta-internal pair
    def files(docs: Seq[(String, String)]): DataFrame = {
      import spark.implicits._
      docs.map { case (n, t) => (s"dzc/$n.txt", t.getBytes("UTF-8")) }
        .toDF("path", "content")
        .withColumn("length", octet_length(col("content")).cast("long"))
    }
    var live: Seq[(String, String)] = Seq.empty
    def run(docs: Seq[(String, String)], id: Long): Unit = {
      live = (live ++ docs).distinct
      val corpusNow = live
      Dropzone.processBatch(spark, files(docs), "dzc", store, 400, 0, 8,
        skipUnchangedFiles = true, batchId = id,
        bandStorePath = Some(bands),
        clusterStore = Some((clusters, () => {
          import spark.implicits._
          // dropzone paths are RELATIVIZED by the scan ("a.txt", not
          // "dzc/a.txt") — the corpus thunk must speak the store's keys
          corpusNow.map { case (n, t) => (s"$n.txt", t) }
            .toDF("path", "text")
        })))
    }
    run(base, 0L)
    def serve = ClusterStore.read(spark, clusters).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(serve == Map("a.txt" -> "a.txt", "b.txt" -> "a.txt"),
      s"base clustering wrong: $serve")
    run(delta, 1L)
    val after = serve
    assert(after("c.txt") == "a.txt", "joiner must inherit the base label")
    assert(after("p.txt") == "p.txt" && after("q.txt") == "p.txt",
      s"delta-internal pair must cluster (band upsert runs before the probe): $after")
    assert(!after.contains("s.txt"), "singleton grew a label")
    // replay of batch 1: both layers (skip-unchanged short-circuit and
    // the ClusterStore watermark) must leave the labels untouched
    run(delta, 1L)
    assert(serve == after, "replayed batch mutated the cluster store")
  }

  test("re-dropped file that chunks SHORTER deletes its tail vectors from the ANN store") {
    // chunk ids are uuid5(document_id, "chunk:{idx}"): a shorter re-drop
    // produces a PREFIX of the old id set, so the removed tail ids appear
    // in no delta — they must be deleted explicitly or the serving ANN
    // index diverges from the chunk store (r6 advice)
    import org.apache.spark.sql.DataFrame
    import graft.sources.VectorStore
    val store = scratchDir("graft-shrink-store").resolve("chunks").toString
    val vstore = scratchDir("graft-shrink-vstore").resolve("idx").toString
    def files(body: String): DataFrame = {
      import spark.implicits._
      Seq(("dz/a.txt", body.getBytes("UTF-8")))
        .toDF("path", "content")
        .withColumn("length", octet_length(col("content")).cast("long"))
    }
    def run(body: String, batchId: Long): Unit = Dropzone.processBatch(
      spark, files(body), "dz", store, 40, 0, 8, skipUnchangedFiles = true,
      vectorStorePath = Some(vstore), vectorStoreK = 2, batchId = batchId)

    run("a long first version of this document body, " +
      "long enough to produce a handful of chunks at size forty", 0L)
    val before = ChunkStore.read(spark, store).count()
    assert(before >= 3, s"fixture should chunk into several pieces, got $before")

    run("a tiny rewrite", 1L)
    val storedIds = ChunkStore.read(spark, store)
      .select("id").collect().map(_.getString(0)).toSet
    val liveVecIds = VectorStore.read(spark, vstore, planes = 8, dim = 8,
      idCol = "id").vectors.select("id").collect().map(_.getString(0)).toSet
    assert(liveVecIds == storedIds,
      s"ANN store diverged from chunk store: extra=${liveVecIds -- storedIds}, missing=${storedIds -- liveVecIds}")
  }

  test("store compaction preserves content and reduces file count") {
    val dropzone: Path = scratchDir("graft-compact-dz")
    val store = scratchDir("graft-compact-store").resolve("chunks").toString
    // several upserts -> several file sets per bucket
    for (i <- 1 to 4) {
      Files.writeString(dropzone.resolve(s"f$i.txt"), s"document number $i body")
      spark.catalog.refreshByPath(dropzone.toString)
      graft.sources.ChunkStore.upsert(
        graft.sources.FileIngest.ingestDirectory(spark, dropzone.toString, 200, 40),
        store)
    }
    // data files of the bucket partitions only: a parquet sidecar beside
    // them is not chunk data and must not count
    def bucketFiles: Seq[Path] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Path.of(store)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          p.getParent.getFileName.toString.startsWith("doc_bucket="))
        .toSeq
    }
    def parquetFiles = bucketFiles.size
    val before = ChunkStore.read(spark, store).select("id").collect().map(_.getString(0)).sorted.toSeq
    val filesBefore = parquetFiles
    // r17: upsert clusters by doc_bucket before the partitioned write, so
    // the store stays at one file per touched bucket AS IT GROWS (the old
    // write fanned every task into every bucket — 4 upserts left multiple
    // file sets per bucket and this test relied on compact() to shrink
    // them). Assert the write-path property directly, then that compact()
    // stays content-preserving and never fragments.
    assert(filesBefore <= 4,
      s"upserts should leave at most one file per touched bucket, got $filesBefore")
    graft.sources.ChunkStore.compact(spark, store)
    val after = ChunkStore.read(spark, store).select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(after == before)
    // compact()'s own contract: exactly one data file inside every
    // doc_bucket directory — not merely "no worse than
    // before" (r17's <= let a no-op compact pass silently).
    val perBucket = bucketFiles.groupBy(_.getParent).view.mapValues(_.size).toMap
    assert(perBucket.nonEmpty && perBucket.values.forall(_ == 1),
      s"compact() must leave one file per bucket, got $perBucket")
  }

  test("streaming media ingest: micro-batches route STT/caption in dev mode + skip unchanged") {
    // The last untested operator composition: Dropzone micro-batches ->
    // routeDocumentsWithMedia (dev mode, transport must never be called)
    // -> skip-unchanged -> upsert. An unchanged re-trigger must rewrite
    // nothing; a re-dropped CHANGED audio file must replace its chunks.
    import graft.operators.MediaService
    val dropzone: Path = scratchDir("graft-med-dz")
    val store = scratchDir("graft-med-store").resolve("chunks").toString
    val checkpoint = scratchDir("graft-med-ckpt").toString
    val mustNotCall = new MediaService.Transport {
      override def post(paths: Seq[String], payloads: Seq[Array[Byte]]): String =
        throw new IllegalStateException("dev mode must not call the media service")
    }
    val media = Some((
      MediaService.Config(MediaService.Stt, mustNotCall, devMode = true),
      MediaService.Config(MediaService.Caption, mustNotCall, devMode = true)))

    Files.write(dropzone.resolve("talk.mp3"), Array[Byte](1, 2, 3))
    Files.write(dropzone.resolve("pic.png"), Array[Byte](4, 5))
    Files.writeString(dropzone.resolve("note.txt"), "plain text body here")

    val query = Dropzone.start(spark, dropzone.toString, store, checkpoint,
      chunkSize = 200, chunkOverlap = 40, media = media)
    try {
      query.processAllAvailable()
      val rows = ChunkStore.read(spark, store)
        .select("path", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rows.keySet == Set("talk.mp3", "pic.png", "note.txt"))
      // dev-mode STT emits the reference's dev transcript; empty dev
      // caption falls back to `image: {rel}` (process.py:911)
      assert(rows("talk.mp3") == "[DEV] transcript of talk.mp3")
      assert(rows("pic.png") == "image: pic.png")

      // unchanged re-trigger: zero rewrites (file listings are stable, so
      // prove via stable modification stamp of the store's bucket files)
      def storeStamp() = {
        val f = new java.io.File(store)
        def walk(x: java.io.File): Seq[java.io.File] =
          if (x.isDirectory) Option(x.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
          else Seq(x)
        walk(f).filter(_.getName.endsWith(".parquet"))
          .map(x => x.getPath -> x.lastModified()).sortBy(_._1)
      }
      val before = storeStamp()
      // re-drop the SAME bytes under the same name: scanned as a new file
      // event, content_sig matches -> skip-unchanged drops it pre-chunk
      Files.write(dropzone.resolve("talk.mp3"), Array[Byte](1, 2, 3))
      query.processAllAvailable()
      assert(storeStamp() == before, "unchanged micro-batch rewrote store buckets")

      // Spark's checkpointed file source identifies files BY PATH: an
      // in-place rewrite is NOT re-delivered (unlike the reference's
      // polling watcher — changed files re-enter via atomic-rename drops
      // or the batch incremental path). Assert that actual contract:
      Files.write(dropzone.resolve("talk.mp3"), Array[Byte](9, 9, 9, 9))
      query.processAllAvailable()
      def sigOf(name: String) = ChunkStore.read(spark, store)
        .filter(col("path") === name).select("content_sig").head().getString(0)
      def sha(bs: Array[Byte]) = java.security.MessageDigest.getInstance("SHA-256")
        .digest(bs).map(b => f"$b%02x").mkString
      assert(sigOf("talk.mp3") == sha(Array[Byte](1, 2, 3)),
        "file source unexpectedly re-delivered an in-place rewrite")

      // when a changed file IS delivered (a micro-batch containing the new
      // bytes — the rename-drop/watcher shape), the same media + skip +
      // upsert wiring re-ingests and REPLACES: drive processBatch directly
      val newBytes = Array[Byte](9, 9, 9, 9)
      val filesFrame = spark.createDataFrame(java.util.List.of(
          org.apache.spark.sql.Row(s"$dropzone/talk.mp3", newBytes, 4L)),
        org.apache.spark.sql.types.StructType.fromDDL(
          "path STRING, content BINARY, length BIGINT"))
      Dropzone.processBatch(spark, filesFrame, dropzone.toString, store,
        chunkSize = 200, chunkOverlap = 40, embedDim = 64,
        skipUnchangedFiles = true, media = media)
      val after = ChunkStore.read(spark, store)
      assert(after.filter(col("path") === "talk.mp3").count() == 1)
      assert(after.count() == 3)
      assert(sigOf("talk.mp3") == sha(newBytes),
        "delivered changed media file was not re-ingested with byte-level sig")
    } finally query.stop()
  }
}
