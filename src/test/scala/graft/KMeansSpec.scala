package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.operators.Similarity
import graft.sources.VectorStore

/** The driver k-means behind the IVF centroids and the PQ codebooks
  * ([[Similarity.kMeans]] over [[Similarity.trainingSample]]): its output
  * depends on the rows only, it recovers planted clusters, it trains on a
  * bounded sample, and the two store writers that use it submit a small,
  * fixed number of Spark jobs and leave the caller's caches as they were.
  */
class KMeansSpec extends AnyFunSuite with ScratchDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Sf = "/root/testdata/sf0.001"

  private def vecsDF(vs: Seq[Array[Double]]): DataFrame = {
    import spark.implicits._
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
  }

  private def bits(cs: Array[Array[Double]]): Seq[Seq[Long]] =
    cs.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq

  private def randomVectors(n: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Array.fill(dim)(rnd.nextGaussian()))
  }

  test("the same rows give bit-identical centroids in 1 and 7 partitions and across runs") {
    val df = vecsDF(randomVectors(600, 16, 3L)).cache()
    val one = Similarity.ivfIndex(df.coalesce(1), "embedding", 8, 42L)
    val seven = Similarity.ivfIndex(df.repartition(7), "embedding", 8, 42L)
    val again = Similarity.ivfIndex(df.repartition(7), "embedding", 8, 42L)
    assert(one.length == 8)
    assert(bits(one) == bits(seven))
    assert(bits(seven) == bits(again))
    assert(bits(one) != bits(Similarity.ivfIndex(df, "embedding", 8, 43L)),
      "the seed does not reach the fit")
    df.unpersist()
  }

  test("planted, well-separated clusters are recovered") {
    val dim = 8
    val planted = Seq(0, 2, 4, 6).map(d => Array.tabulate(dim)(j => if (j == d) 1.0 else 0.0))
    val rnd = new scala.util.Random(11L)
    val points = planted.flatMap(c => Seq.fill(100)(c.map(_ + 0.05 * rnd.nextGaussian())))
    val centroids = Similarity.ivfIndex(vecsDF(rnd.shuffle(points)), "embedding", 4, 42L)
    def cos(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum /
        math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    val matched = centroids.map(c => planted.indices.maxBy(p => cos(c, planted(p))))
    assert(matched.toSet == planted.indices.toSet, s"matched ${matched.mkString(",")}")
    centroids.zip(matched).foreach { case (c, p) =>
      assert(cos(c, planted(p)) > 0.99, s"centroid ${c.mkString(",")} vs cluster $p") }
  }

  test("fewer distinct points than k return the distinct points") {
    val a = Array(1.0, 0.0, 0.0)
    val b = Array(0.0, 1.0, 0.0)
    val c = Array(0.0, 0.0, 1.0)
    val got = Similarity.kMeans(Array(a, b, a, c, b, a), k = 5, seed = 7L)
    assert(got.map(_.toSeq).toSeq == Seq(a, b, c).map(_.toSeq))
    val served = Similarity.ivfIndex(vecsDF(Seq(a, b, a, c, b, a, c)), "embedding", 4, 42L)
    assert(served.map(_.toSeq).toSet == Set(a, b, c).map(_.toSeq))
  }

  test("with k = 2 over 2,000 rows, training uses exactly 512 sample rows") {
    val df = vecsDF(randomVectors(2000, 8, 5L))
    val unit = VectorFunctions.l2Normalize(col("embedding").cast("array<double>"))
    val sample = Similarity.trainingSample(df, unit, 2, 42L)
    assert(sample.length == 512)
    assert(sample.map(_.toSeq).distinct.length == 512)
    assert(bits(Similarity.ivfIndex(df, "embedding", 2, 42L)) ==
      bits(Similarity.kMeans(sample, 2, 42L)))
    // below the cap the sample is every row
    assert(Similarity.trainingSample(df.limit(300), unit, 2, 42L).length == 300)
  }

  test("job budgets over sf0.001's embeddings: VectorStore.write <= 6, writePq <= 8") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val root = scratchDir("graft-kmeans-jobs")
    val vs = root.resolve("vectors").toString
    val (_, write) = graft.core.Telemetry.profile(spark, "VectorStore.write")(
      VectorStore.write(emb, "embedding", vs))
    info(s"VectorStore.write: ${write.jobs.size} jobs")
    assert(write.jobs.size <= 6, s"VectorStore.write submitted ${write.jobs.size} jobs: ${write.json}")
    val centroids = VectorStore.read(spark, vs, 8, 64).centroids
    assert(centroids.length == 16)
    val (_, pq) = graft.core.Telemetry.profile(spark, "VectorStore.writePq")(
      VectorStore.writePq(emb, "embedding", root.resolve("pq").toString, centroids = centroids))
    info(s"VectorStore.writePq: ${pq.jobs.size} jobs")
    assert(pq.jobs.size <= 8, s"VectorStore.writePq submitted ${pq.jobs.size} jobs: ${pq.json}")
  }

  test("VectorStore.write leaves a frame the caller cached cached, and caches nothing of its own") {
    import org.apache.spark.storage.StorageLevel
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val root = scratchDir("graft-kmeans-cache")
    VectorStore.write(emb, "embedding", root.resolve("a").toString)
    assert(emb.storageLevel == StorageLevel.NONE, "the write left its input cached")
    val mine = emb.persist(StorageLevel.MEMORY_ONLY)
    mine.count()
    VectorStore.write(emb, "embedding", root.resolve("b").toString)
    assert(mine.storageLevel == StorageLevel.MEMORY_ONLY, "the write dropped the caller's cache")
    assert(VectorStore.readCentroids(root.resolve("a").toString).map(_.toSeq).toSeq ==
      VectorStore.readCentroids(root.resolve("b").toString).map(_.toSeq).toSeq)
    mine.unpersist()
  }
}
