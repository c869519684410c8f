package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VectorStore

/** Incremental maintenance semantics of the vector store: upserts assign
  * with the STORED centroids (cells stay replayable from one literal
  * set), tombstones kill replaced/deleted versions, drift is tracked for
  * the retrain trigger, and compaction is serving-invariant. (q78/q79
  * pin end-to-end value parity against the DuckDB replays; these tests
  * pin the state machine.)
  */
class VectorStoreIncSpec extends AnyFunSuite with ScratchDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Dim = 4

  private def vecsDF(rows: (Long, Array[Double])*): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def freshPath(tag: String): String = {
    val dir = scratchDir(s"graft-vstore-spec-$tag").toFile
    new java.io.File(dir, "idx").toString
  }

  private def v(xs: Double*): Array[Double] = xs.toArray

  private def liveIds(path: String): Set[Long] =
    VectorStore.read(spark, path, planes = 2, dim = Dim)
      .vectors.select(col("vec_id")).collect().map(_.getLong(0)).toSet

  test("upsert add/replace/delete with stored-centroid assignment") {
    val path = freshPath("upd")
    VectorStore.write(vecsDF(
      1L -> v(1, 0, 0, 0),
      2L -> v(0, 1, 0, 0),   // will be replaced
      3L -> v(0, 0, 1, 0)),  // will be deleted
      "embedding", path, planes = 2, dim = Dim, k = 2)
    val csBefore = VectorStore.read(spark, path, 2, Dim).centroids
    VectorStore.upsertVectors(spark,
      vecsDF(2L -> v(0, 0, 0, 1), 4L -> v(1, 1, 0, 0)),
      "vec_id", "embedding",
      vecsDF(3L -> v(0, 0, 0, 0)).select(col("vec_id")), path,
      planes = 2, dim = Dim)

    assert(liveIds(path) == Set(1L, 2L, 4L))
    // replaced vector serves its NEW embedding
    val e2 = VectorStore.read(spark, path, 2, Dim).vectors
      .filter(col("vec_id") === 2L)
      .select(col("embedding")).head().getSeq[Double](0)
    assert(e2 == Seq(0.0, 0.0, 0.0, 1.0))
    // centroids untouched by the upsert (no silent retrain)
    val csAfter = VectorStore.read(spark, path, 2, Dim).centroids
    assert(csAfter.map(_.toSeq).toSeq == csBefore.map(_.toSeq).toSeq)
    // cell of the appended rows = nearest STORED centroid (replayable)
    val cells = VectorStore.read(spark, path, 2, Dim).vectors
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = vecsDF(2L -> v(0, 0, 0, 1), 4L -> v(1, 1, 0, 0))
      .withColumn("cell", graft.functions.VectorFunctions.nearestCell(
        col("embedding"), csBefore))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    expected.foreach { case (id, c) => assert(cells(id) == c, s"cell of $id") }
  }

  test("idCol == \"id\": tombstone filter keeps the caller's id column") {
    // the streaming integration reads with idCol = "id"; the tombstone
    // key is also called "id", and a drop-by-name would silently remove
    // BOTH — serving vectors that can't be mapped back to chunks
    import spark.implicits._
    val path = freshPath("idcol")
    val base = Seq((1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0))).toDF("id", "embedding")
    VectorStore.write(base, "embedding", path, planes = 2, dim = Dim, k = 2)
    VectorStore.upsertVectors(spark,
      Seq((2L, v(0, 0, 1, 0))).toDF("id", "embedding"), "id", "embedding",
      Seq.empty[Long].toDF("id"), path, planes = 2, dim = Dim)
    val vecs = VectorStore.read(spark, path, 2, Dim, idCol = "id").vectors
    assert(vecs.columns.contains("id"),
      "tombstone join dropped the caller's id column")
    val ids = vecs.select(col("id")).collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L))
  }

  test("crashed upsert replay: partial generation dropped, no duplicates") {
    val path = freshPath("crash")
    VectorStore.write(vecsDF(1L -> v(1, 0, 0, 0), 2L -> v(0, 1, 0, 0)),
      "embedding", path, planes = 2, dim = Dim, k = 2, batchId = 0L)
    val statsPath = java.nio.file.Paths.get(path, "_graft_inc_stats.json")
    val statsBefore = java.nio.file.Files.readString(statsPath)
    val delta = vecsDF(2L -> v(0, 0, 1, 0), 3L -> v(0, 0, 0, 1))
    val none = vecsDF().select(lit(0L).as("vec_id")).limit(0)
    VectorStore.upsertVectors(spark, delta, "vec_id", "embedding", none,
      path, planes = 2, dim = Dim, batchId = 1L)
    val expected = VectorStore.read(spark, path, 2, Dim).vectors
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSet
    // simulate a crash BETWEEN the segment appends and the stats write:
    // gen-1 files are on disk but the watermark still says batch 0 — the
    // window the r6 advice flagged as doubling the replayed batch
    java.nio.file.Files.writeString(statsPath, statsBefore)
    VectorStore.upsertVectors(spark, delta, "vec_id", "embedding", none,
      path, planes = 2, dim = Dim, batchId = 1L)
    val after = VectorStore.read(spark, path, 2, Dim).vectors
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(after.length == 3, "replay after crash duplicated segment rows")
    assert(after.toSet == expected)
  }

  test("drift fraction tracks appended volume for the retrain trigger") {
    val path = freshPath("drift")
    VectorStore.write(vecsDF(
      1L -> v(1, 0, 0, 0), 2L -> v(0, 1, 0, 0), 3L -> v(0, 0, 1, 0),
      4L -> v(0, 0, 0, 1)), "embedding", path, planes = 2, dim = Dim, k = 2)
    assert(VectorStore.driftFraction(path) == 0.0)
    VectorStore.upsertVectors(spark, vecsDF(5L -> v(1, 1, 1, 1)),
      "vec_id", "embedding", vecsDF().select(lit(0L).as("vec_id")).limit(0),
      path, planes = 2, dim = Dim)
    assert(VectorStore.driftFraction(path) == 0.25)
  }

  test("drift-triggered retrain: no-op below threshold, full refit above") {
    val path = freshPath("retrain")
    VectorStore.write(vecsDF(
      1L -> v(1, 0, 0, 0), 2L -> v(0.9, 0.1, 0, 0),
      3L -> v(0, 0, 1, 0), 4L -> v(0, 0.1, 0.9, 0)),
      "embedding", path, planes = 2, dim = Dim, k = 2)
    val csBefore = VectorStore.read(spark, path, 2, Dim).centroids
    // small delta: drift 0.25 <= 0.3 threshold -> untouched
    VectorStore.upsertVectors(spark, vecsDF(5L -> v(0, 1, 0, 0)),
      "vec_id", "embedding", vecsDF().select(col("vec_id")), path,
      planes = 2, dim = Dim)
    assert(!VectorStore.retrainIfDrifted(spark, path, "embedding",
      planes = 2, dim = Dim, k = 2, threshold = 0.3))
    assert(VectorStore.read(spark, path, 2, Dim).centroids.map(_.toSeq).toSeq
      == csBefore.map(_.toSeq).toSeq)
    // second delta passes the threshold -> refit over the LIVE rows
    VectorStore.upsertVectors(spark,
      vecsDF(6L -> v(0, 0, 0, 1), 2L -> v(0, 0, 0.2, 0.8)),
      "vec_id", "embedding", vecsDF().select(col("vec_id")), path,
      planes = 2, dim = Dim)
    assert(VectorStore.retrainIfDrifted(spark, path, "embedding",
      planes = 2, dim = Dim, k = 2, threshold = 0.3))
    val after = VectorStore.read(spark, path, 2, Dim)
    assert(after.vectors.count() == 6, "retrain must keep exactly the live rows")
    // replaced vec 2 keeps its NEW embedding through the rebuild
    val e2 = after.vectors.filter(col("vec_id") === 2L)
      .select(col("embedding")).head().getSeq[Double](0)
    assert(e2 == Seq(0.0, 0.0, 0.2, 0.8))
    assert(!graft.sources.GenStore.hasParquetData(
      new java.io.File(graft.sources.GenStore.tableDir(path, "tombstones"))),
      "tombstones not retired by the epoch flip")
    assert(VectorStore.driftFraction(path) == 0.0, "drift not reset")
  }

  test("compaction clears tombstones without changing the served rows") {
    val path = freshPath("compact")
    VectorStore.write(vecsDF(1L -> v(1, 0, 0, 0), 2L -> v(0, 1, 0, 0)),
      "embedding", path, planes = 2, dim = Dim, k = 2)
    VectorStore.upsertVectors(spark,
      vecsDF(2L -> v(0, 0, 1, 0), 3L -> v(0, 0, 0, 1)),
      "vec_id", "embedding",
      vecsDF(1L -> v(0, 0, 0, 0)).select(col("vec_id")), path,
      planes = 2, dim = Dim)
    val before = VectorStore.read(spark, path, 2, Dim).vectors
      .select(col("vec_id"), col("embedding"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getInt(2))).toSet
    val driftBefore = VectorStore.driftFraction(path)
    VectorStore.compactVectors(spark, path)
    assert(!graft.sources.GenStore.hasParquetData(
      new java.io.File(graft.sources.GenStore.tableDir(path, "tombstones"))))
    val after = VectorStore.read(spark, path, 2, Dim).vectors
      .select(col("vec_id"), col("embedding"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getInt(2))).toSet
    assert(after == before)
    // compaction rewrites files, it does NOT retrain: the stale-centroid
    // fraction is unchanged, so the retrain trigger still fires on
    // schedule for a store that auto-compacts often
    assert(VectorStore.driftFraction(path) == driftBefore && driftBefore > 0.0)
  }

  test("auto-maintenance: 50 churn cycles stay policy-bounded with exact serving state") {
    val path = freshPath("vchurn")
    var model = Map(1L -> v(1, 0, 0, 0), 2L -> v(0, 1, 0, 0), 3L -> v(0, 0, 1, 0))
    VectorStore.write(vecsDF(model.toSeq: _*), "embedding", path,
      planes = 2, dim = Dim, k = 2,
      policy = VectorStore.Policy(maxSegments = 4L))
    val none = vecsDF().select(lit(0L).as("vec_id")).limit(0)
    def delIds(id: Long) = vecsDF().select(lit(0L).as("vec_id")).limit(0)
      .unionByName(spark.range(id, id + 1).select(col("id").as("vec_id")))

    def statGen(): Long = {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        java.nio.file.Files.readString(
          java.nio.file.Paths.get(path, "_graft_inc_stats.json")))
      node.get("gen").asLong()
    }

    var appended = 0L
    var compactions = 0
    var prevGen = 0L
    for (i <- 1 to 50) {
      val id = (i % 6) + 1L
      if (i % 9 == 0 && model.contains(id)) {
        model -= id
        VectorStore.upsertVectors(spark, vecsDF(), "vec_id", "embedding",
          delIds(id), path, planes = 2, dim = Dim)
      } else {
        val vec = v((i % 3).toDouble, ((i + 1) % 3).toDouble,
          ((i + 2) % 3).toDouble, 1.0)
        model += id -> vec
        appended += 1
        VectorStore.upsertVectors(spark, vecsDF(id -> vec), "vec_id",
          "embedding", none, path, planes = 2, dim = Dim)
      }
      val g = statGen()
      assert(g < 4L, s"cycle $i: segment count $g escaped the policy bound")
      if (g < prevGen) compactions += 1
      prevGen = g
      if (i % 10 == 0 || g == 0L) {
        val served = VectorStore.read(spark, path, 2, Dim).vectors
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray.toSeq).toMap
        assert(served == model.map { case (k, a) => k -> a.toSeq },
          s"cycle $i: serving state diverged (gen=$g)")
      }
    }
    assert(compactions >= 8,
      s"only $compactions compactions in 50 cycles — trigger not firing")
    // drift survived every compaction: appended/base, never reset
    assert(VectorStore.driftFraction(path) == appended.toDouble / 3.0)
  }

  test("pq codebook quality: distribution shift triggers retrainPqIfStale") {
    val sfRoot = scratchDir("graft-pqq-sf").toFile
    val sfDir = sfRoot.toString
    // base corpus: two tight clusters living entirely in the FIRST half of
    // the dims — subspace 1's codebook trains on (near-)zero slices
    val base = (1L to 12L).map(i =>
      i -> (if (i % 2 == 0) v(1, 0.01 * i, 0, 0) else v(0.01 * i, 1, 0, 0)))
    vecsDF(base: _*).write.mode("overwrite")
      .parquet(s"$sfDir/embeddings.parquet")
    def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pqp = VectorStore.pqPath(sfDir)
    val centroids = VectorStore.ensure(spark, emb, "embedding", sfDir,
      planes = 2, dim = Dim, k = 2).centroids
    VectorStore.writePq(emb, "embedding", pqp, m = 2, ksub = 2, seed = 7L,
      centroids = centroids)
    val (baseQerr, _, _) = VectorStore.readPqQuality(pqp)
    assert(baseQerr > 0.0, "training-time mean error not recorded")
    assert(VectorStore.pqQualityRatio(pqp) == 1.0)
    val none = vecsDF().select(lit(0L).as("vec_id")).limit(0)

    // in-distribution delta (the base points again, new ids): delta mean
    // error == training mean, ratio 1.0, no retrain — drift threshold set
    // high so QUALITY is the only trigger under test
    val inDist = base.map { case (id, a) => (id + 100L) -> a }
    VectorStore.upsertPqCodes(spark, vecsDF(inDist: _*), "vec_id",
      "embedding", none, pqp, centroids)
    assert(math.abs(VectorStore.pqQualityRatio(pqp) - 1.0) < 1e-9)
    assert(!VectorStore.retrainPqIfStale(spark, emb, "embedding", sfDir,
      m = 2, ksub = 2, seed = 7L, driftThreshold = 10.0,
      qualityThreshold = 1.5, planes = 2, dim = Dim, ivfK = 2))

    // out-of-distribution delta: all mass in the SECOND half — the frozen
    // subspace-1 codebook reconstructs none of it, so the mean appended
    // error blows past the training-time mean even though the codes
    // themselves stay VALID (this is exactly the silent ADC-precision
    // loss the quality trigger exists to catch)
    val shifted = Seq(201L -> v(0, 0, 1, 0.01), 202L -> v(0, 0, 0.01, 1))
    VectorStore.upsertPqCodes(spark, vecsDF(shifted: _*), "vec_id",
      "embedding", none, pqp, centroids)
    val ratio = VectorStore.pqQualityRatio(pqp)
    assert(ratio > 1.5, s"shifted delta ratio $ratio should exceed 1.5")

    val cbsBefore = VectorStore.readPq(spark, pqp).codebooks
    val live = emb.unionByName(vecsDF(inDist: _*)).unionByName(vecsDF(shifted: _*))
    assert(VectorStore.retrainPqIfStale(spark, live, "embedding", sfDir,
      m = 2, ksub = 2, seed = 7L, driftThreshold = 10.0,
      qualityThreshold = 1.5, planes = 2, dim = Dim, ivfK = 2))
    // retrain refit the codebooks over the live corpus and reset both
    // counters; the rebuilt store serves every live row
    val after = VectorStore.readPq(spark, pqp)
    assert(after.codes.count() == 26L)
    assert(after.codebooks.map(_.map(_.toSeq).toSeq).toSeq
      != cbsBefore.map(_.map(_.toSeq).toSeq).toSeq,
      "retrain did not refit the codebooks")
    assert(VectorStore.pqQualityRatio(pqp) == 1.0)
    assert(VectorStore.driftFraction(pqp) == 0.0)
    assert(!VectorStore.retrainPqIfStale(spark, live, "embedding", sfDir,
      m = 2, ksub = 2, seed = 7L, driftThreshold = 10.0,
      qualityThreshold = 1.5, planes = 2, dim = Dim, ivfK = 2))
  }

  test("pq quality accounting is replay-idempotent with the upsert") {
    val sfRoot = scratchDir("graft-pqq-rp").toFile
    val sfDir = sfRoot.toString
    val base = (1L to 6L).map(i => i -> v(1, 0.1 * i, 0, 0))
    vecsDF(base: _*).write.mode("overwrite")
      .parquet(s"$sfDir/embeddings.parquet")
    def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pqp = VectorStore.pqPath(sfDir)
    val centroids = VectorStore.ensure(spark, emb, "embedding", sfDir,
      planes = 2, dim = Dim, k = 2).centroids
    VectorStore.writePq(emb, "embedding", pqp, m = 2, ksub = 2, seed = 7L,
      centroids = centroids)
    val none = vecsDF().select(lit(0L).as("vec_id")).limit(0)
    val delta = vecsDF(7L -> v(0, 0, 1, 0))
    VectorStore.upsertPqCodes(spark, delta, "vec_id", "embedding", none,
      pqp, centroids, batchId = 5L)
    val (b1, s1, n1) = VectorStore.readPqQuality(pqp)
    // same batch re-delivered: the replay guard skips the whole upsert,
    // including the quality accumulation
    VectorStore.upsertPqCodes(spark, delta, "vec_id", "embedding", none,
      pqp, centroids, batchId = 5L)
    assert(VectorStore.readPqQuality(pqp) == ((b1, s1, n1)),
      "replayed batch double-counted the quality sidecar")
    assert(n1 == 1L && s1 > 0.0)
  }
}
