package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BandStore, ChunkStore, GenStore, TextIndex, VectorStore}

/** Kill-restart fuzz for the incremental stores (r10 VERDICT next-round
  * #5): the crash-consistency work (epoch pointers, stats-written-last,
  * dropPartialGen redo) was load-tested but never CRASH-tested. Here a
  * countdown hook ([[GenStore.CrashPoints]]) throws at the N-th lifecycle
  * point — exhaustively, for every N until the operation completes — so
  * every between-steps kill of an upsert and a compaction is simulated
  * for TextIndex, VectorStore and BandStore, and every kill of the chunk
  * store's creation and bucket growth.
  *
  * The invariant is STRONGER than "recoverable" (r11): the stats sidecar
  * is the atomic commit point, and reads gate on its recorded generation
  * (GenStore.liveRows maxGen), so a reader arriving BETWEEN the crash and
  * any recovery serves exactly the pre-batch state if the kill preceded
  * the stats write, and exactly the post state if it landed inside the
  * post-commit maintenance (auto-compaction) — never the torn middle
  * where tombstones landed but segment rows (or the second of
  * TextIndex's two artifacts) did not. A replay of the same batch then
  * converges to exactly the post state.
  */
class CrashFuzzSpec extends AnyFunSuite with ScratchDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private final class Injected extends RuntimeException("injected crash")

  /** Run `op` with a crash armed at the `n`-th lifecycle point; returns
    * whether the crash fired (false = fewer than n points: op completed).
    */
  private def crashAt(n: Int)(op: => Unit): Boolean = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    GenStore.CrashPoints.hook =
      _ => if (counter.incrementAndGet() == n) throw new Injected
    try { op; false }
    catch { case _: Injected => true }
    finally GenStore.CrashPoints.hook = _ => ()
  }

  private def freshPath(tag: String): String = {
    val dir = scratchDir(s"graft-fuzz-$tag").toFile
    new java.io.File(dir, "idx").toString
  }

  private def docsV1 = {
    import spark.implicits._
    Seq(
      ("d1", "spark join engine shuffles rows by key and builds hash tables " * 3),
      ("d2", "filter scan pushdown prunes row groups with statistics " * 3))
      .toDF("id", "text")
  }

  // the batch: replace d2, delete d1, add d3
  private def deltaV2 = {
    import spark.implicits._
    Seq(
      ("d2", "replaced body with entirely new words about columnar codecs " * 3),
      ("d3", "aggregate pushdown merges partial results on the map side " * 3))
      .toDF("id", "text")
  }
  private def deletedIds = {
    import spark.implicits._
    Seq("d1").toDF("id")
  }

  // ---------------------------------------------------------------------
  // BandStore
  // ---------------------------------------------------------------------

  private def bandState(path: String): Seq[(String, Int, Long)] =
    BandStore.read(spark, path, 32, 8).rows
      .select("c_id", "band", "bh").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sortBy(identity).toSeq

  test("BandStore: every mid-upsert kill serves pre-state; replay converges to post") {
    // reference pre/post states from an uncrashed twin
    val ref = freshPath("bs-ref")
    BandStore.write(docsV1, "id", "text", ref, 32, 8)
    val pre = bandState(ref)
    BandStore.upsert(spark, deltaV2, "id", "text", deletedIds, ref, 32, 8, batchId = 1L)
    val post = bandState(ref)
    assert(pre != post)

    var n = 1
    var completed = false
    while (!completed && n <= 20) {
      val path = freshPath(s"bs-$n")
      BandStore.write(docsV1, "id", "text", path, 32, 8)
      val crashed = crashAt(n) {
        BandStore.upsert(spark, deltaV2, "id", "text", deletedIds, path, 32, 8, batchId = 1L)
      }
      if (!crashed) {
        assert(bandState(path) == post, s"uncrashed run at n=$n diverged")
        completed = true
      } else {
        // a kill BEFORE the stats commit must serve pre; a kill after it
        // (inside the post-commit auto-compaction) serves post — either
        // way, never the torn middle
        val served = bandState(path)
        assert(served == pre || served == post,
          s"torn band read after kill at point $n")
        // the restart contract: the stream re-delivers the batch
        // (a no-op when the watermark already committed)
        BandStore.upsert(spark, deltaV2, "id", "text", deletedIds, path, 32, 8, batchId = 1L)
        assert(bandState(path) == post,
          s"replay after kill at point $n did not converge")
      }
      n += 1
    }
    assert(completed && n > 3, s"expected >=3 crash points, saw ${n - 2}")
  }

  // ---------------------------------------------------------------------
  // ChunkStore (creation and bucket growth)
  // ---------------------------------------------------------------------

  /** Chunks `lo until hi`, four per document. */
  private def chunkRows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(
      concat(lit("c"), col("id").cast("string")).as("id"),
      concat(lit("d"), (col("id") / 4).cast("long").cast("string")).as("document_id"),
      concat(lit("body "), col("id").cast("string")).as("text"))

  private def chunkState(path: String): Seq[(String, String)] =
    ChunkStore.read(spark, path).select("id", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq

  test("ChunkStore: every kill of creation or growth heals at the next upsert") {
    // one bucket's rows and a batch that grows the store past it
    val small = chunkRows(0, 40)
    val grow = chunkRows(40, ChunkStore.RowsPerBucket + 400)
    val ref = freshPath("cs-ref")
    ChunkStore.upsert(small.unionByName(grow), ref)
    val post = chunkState(ref)
    val postCount = ChunkStore.tableBuckets(ref)
    assert(postCount > 1)
    val preIds = chunkState({ val p = freshPath("cs-pre"); ChunkStore.upsert(small, p); p }).map(_._1).toSet

    def healed(path: String, what: String): Unit = {
      val rows = chunkState(path)
      assert(rows == post, s"$what: stored rows differ from a clean build")
      assert(ChunkStore.tableBuckets(path) == postCount, s"$what: bucket count")
      assert(ChunkStore.read(spark, path)
        .filter(col("doc_bucket") =!= pmod(xxhash64(col("document_id")), lit(postCount))).isEmpty,
        s"$what: rows outside their bucket")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_graft_grow")),
        s"$what: growth marker left behind")
    }

    // creation: the next upsert of the same batch finishes it
    var n = 1
    var completed = false
    while (!completed && n <= 10) {
      val path = freshPath(s"cs-create-$n")
      val crashed = crashAt(n)(ChunkStore.upsert(small.unionByName(grow), path))
      if (!crashed) completed = true
      else ChunkStore.upsert(small.unionByName(grow), path)
      healed(path, s"creation kill at point $n")
      n += 1
    }
    assert(completed && n > 2, s"expected >=1 creation crash point, saw ${n - 2}")

    // growth: while the growth is torn a read has every row once, so does
    // a lookup by document, and the replayed upsert finishes it
    n = 1
    completed = false
    var growthPoints = 0
    while (!completed && n <= 20) {
      val path = freshPath(s"cs-grow-$n")
      ChunkStore.upsert(small, path)
      val crashed = crashAt(n)(ChunkStore.upsert(grow, path))
      if (!crashed) completed = true
      else {
        val ids = chunkState(path).map(_._1)
        val repeated = ids.diff(ids.distinct)
        assert(repeated.isEmpty, s"kill at point $n: a read repeats ${repeated.size} rows")
        assert(ids.toSet == preIds || ids.toSet == post.map(_._1).toSet,
          s"kill at point $n lost rows")
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_graft_grow"))) {
          growthPoints += 1
          val looked = ChunkStore.chunksOfDocuments(spark, path,
            spark.range(0, 200).select(concat(lit("d"), col("id").cast("string")).as("document_id")))
            .select("id").collect().map(_.getString(0)).toSeq
          assert(looked.size == looked.distinct.size && looked.toSet == post.map(_._1).toSet
            .filter(_.drop(1).toLong < 800), s"lookup over a torn growth at point $n")
        }
        ChunkStore.upsert(grow, path)
      }
      healed(path, s"growth kill at point $n")
      n += 1
    }
    assert(completed && growthPoints >= 3,
      s"expected kills inside the growth, saw $growthPoints of ${n - 2} points")
  }

  // ---------------------------------------------------------------------
  // TextIndex (two artifacts: postings + doclens + integer stats)
  // ---------------------------------------------------------------------

  private def indexState(path: String): (Seq[(String, String, Long)], Seq[(String, Long)], Long) = {
    import spark.implicits._
    val idx = TextIndex.read(spark, path)
    val postings = idx.postings.select("doc", "term", "tf").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sortBy(identity).toSeq
    val doclens = TextIndex.liveAffectedDoclens(spark, path,
        Seq("d1", "d2", "d3").toDF("doc"))
      .select("doc", "dl").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(identity).toSeq
    (postings, doclens, idx.n)
  }

  test("TextIndex: every mid-upsert kill serves pre-state (both artifacts); replay converges") {
    val ref = freshPath("ti-ref")
    TextIndex.write(docsV1, "id", "text", ref)
    val pre = indexState(ref)
    TextIndex.upsert(spark, deltaV2, "id", "text", deletedIds, ref, batchId = 1L)
    val post = indexState(ref)
    assert(pre != post)

    var n = 1
    var completed = false
    while (!completed && n <= 20) {
      val path = freshPath(s"ti-$n")
      TextIndex.write(docsV1, "id", "text", path)
      val crashed = crashAt(n) {
        TextIndex.upsert(spark, deltaV2, "id", "text", deletedIds, path, batchId = 1L)
      }
      if (!crashed) {
        assert(indexState(path) == post, s"uncrashed run at n=$n diverged")
        completed = true
      } else {
        val served = indexState(path)
        assert(served == pre || served == post,
          s"torn index read after kill at point $n (postings/doclens/stats)")
        TextIndex.upsert(spark, deltaV2, "id", "text", deletedIds, path, batchId = 1L)
        assert(indexState(path) == post,
          s"replay after kill at point $n did not converge")
      }
      n += 1
    }
    assert(completed && n > 4, s"expected >=4 crash points, saw ${n - 2}")
  }

  // ---------------------------------------------------------------------
  // VectorStore (vectors layout; codes shares the lifecycle)
  // ---------------------------------------------------------------------

  private def vecState(path: String): Seq[(Long, Seq[Double])] =
    VectorStore.read(spark, path, planes = 2, dim = 4).vectors
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1).toSeq

  test("VectorStore: every mid-upsert kill serves pre-state; replay converges") {
    import spark.implicits._
    def base = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.0)),
      (2L, Array(0.0, 1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    def delta = Seq(
      (2L, Array(0.0, 0.0, 0.0, 1.0)),  // replace
      (3L, Array(0.0, 0.0, 1.0, 0.0))).toDF("vec_id", "embedding")
    def dels = Seq(1L).toDF("vec_id")

    val ref = freshPath("vs-ref")
    VectorStore.write(base, "embedding", ref, planes = 2, dim = 4, k = 2)
    val pre = vecState(ref)
    VectorStore.upsertVectors(spark, delta, "vec_id", "embedding", dels, ref,
      planes = 2, dim = 4, batchId = 1L)
    val post = vecState(ref)
    assert(pre != post)

    var n = 1
    var completed = false
    while (!completed && n <= 20) {
      val path = freshPath(s"vs-$n")
      VectorStore.write(base, "embedding", path, planes = 2, dim = 4, k = 2)
      val crashed = crashAt(n) {
        VectorStore.upsertVectors(spark, delta, "vec_id", "embedding", dels,
          path, planes = 2, dim = 4, batchId = 1L)
      }
      if (!crashed) {
        assert(vecState(path) == post, s"uncrashed run at n=$n diverged")
        completed = true
      } else {
        val served = vecState(path)
        assert(served == pre || served == post,
          s"torn vector read after kill at point $n")
        VectorStore.upsertVectors(spark, delta, "vec_id", "embedding", dels,
          path, planes = 2, dim = 4, batchId = 1L)
        assert(vecState(path) == post,
          s"replay after kill at point $n did not converge")
      }
      n += 1
    }
    assert(completed && n > 3, s"expected >=3 crash points, saw ${n - 2}")
  }

  // ---------------------------------------------------------------------
  // Compaction: serving-invariant under any kill, and re-runnable
  // ---------------------------------------------------------------------

  test("BandStore compaction: any kill leaves serving state value-identical; re-compact heals") {
    var n = 1
    var completed = false
    while (!completed && n <= 20) {
      val path = freshPath(s"bsc-$n")
      BandStore.write(docsV1, "id", "text", path, 32, 8)
      BandStore.upsert(spark, deltaV2, "id", "text", deletedIds, path, 32, 8, batchId = 1L)
      val expected = bandState(path)
      val crashed = crashAt(n) { BandStore.compact(spark, path) }
      assert(bandState(path) == expected,
        s"compaction kill at point $n changed serving state")
      if (!crashed) completed = true
      else {
        BandStore.compact(spark, path) // recovery: a later compact heals
        assert(bandState(path) == expected,
          s"re-compact after kill at point $n changed serving state")
      }
      n += 1
    }
    assert(completed && n > 3, s"expected >=3 compact crash points, saw ${n - 2}")
  }

  // ---------------------------------------------------------------------
  // Query-built scenario stores (q78 IVF, q79 PQ): the artifact gate
  // ---------------------------------------------------------------------

  /** A corpus dir holding a private copy of sf0.001's embeddings: the
    * scenario artifacts are keyed on the table's absolute path, so they
    * belong to this test alone.
    */
  private def embeddingsCopy(tag: String): String = {
    val dir = scratchDir(s"graft-fuzz-$tag")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    dir.toString
  }

  test("q78/q79 scenario stores: a kill at any build point is rebuilt, never served") {
    import graft.core.Session.materialize
    import graft.queries.PipelineCatalog
    def folds(d: String) = (materialize(PipelineCatalog.q78IncIvf(spark, d)),
      materialize(PipelineCatalog.q79IncPq(spark, d)))
    val d = embeddingsCopy("scenario")
    val clean = folds(d)
    val roots = Seq(PipelineCatalog.q78EnsureIncremental(spark, d),
      PipelineCatalog.q79EnsureIncremental(spark, d))
    for ((name, root, ensure) <- Seq[(String, String, String => String)](
        ("q78", roots(0), PipelineCatalog.q78EnsureIncremental(spark, _)),
        ("q79", roots(1), PipelineCatalog.q79EnsureIncremental(spark, _)))) {
      var n = 1
      var completed = false
      while (!completed && n <= 40) {
        // a stale artifact: the next ensure builds it from scratch
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
        completed = !crashAt(n)(ensure(d))
        assert(folds(d) == clean,
          s"$name: serving after a kill at build point $n differs from a clean build")
        n += 1
      }
      assert(completed && n > 3, s"$name: expected >=2 build crash points, saw ${n - 2}")
    }
    roots.foreach(r => org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(r)))
  }
}
