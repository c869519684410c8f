package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BandStore, ChunkStore, GenStore}

/** The chunk store's bucket count: sized to the rows at creation, grown
  * by doubling as upserts add rows, and kept as 64 by every store written
  * before sizing. The band store's count lives in its epoch, and an epoch
  * without the record reads as 64.
  */
class ChunkStoreSpec extends AnyFunSuite with ScratchDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(tag: String): String =
    scratchDir(s"graft-chunkstore-$tag").resolve("chunks").toString

  /** Chunks `lo until hi`, four per document; `version` changes the text. */
  private def chunks(lo: Long, hi: Long, version: Int = 0): DataFrame =
    spark.range(lo, hi).select(
      concat(lit("c"), col("id").cast("string")).as("id"),
      concat(lit("d"), (col("id") / 4).cast("long").cast("string")).as("document_id"),
      concat(lit(s"v$version body "), col("id").cast("string")).as("text"))

  private def rows(path: String): Seq[(String, String, String)] =
    ChunkStore.read(spark, path).select("id", "document_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq

  private def bucketDirs(path: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(path)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("doc_bucket=")).toSet
  }

  /** Data files per bucket directory. */
  private def bucketFiles(path: String): Map[String, Set[String]] =
    bucketDirs(path).map { b =>
      import scala.jdk.CollectionConverters._
      b -> Files.list(Paths.get(path, b)).iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
    }.toMap

  /** Every stored row sits in `pmod(xxhash64(document_id), count)`. */
  private def assertBucketed(path: String, count: Int): Unit = {
    val misplaced = ChunkStore.read(spark, path)
      .filter(col("doc_bucket") =!= pmod(xxhash64(col("document_id")), lit(count)))
      .count()
    assert(misplaced == 0, s"$misplaced rows outside their bucket of $count")
  }

  test("a store created from a one-bucket batch grows by doubling as upserts add rows") {
    val per = ChunkStore.RowsPerBucket
    val path = tmp("grow")
    val ref = tmp("grow-ref")
    ChunkStore.upsert(chunks(0, 40), path)
    assert(ChunkStore.tableBuckets(path) == 1 && bucketDirs(path) == Set("doc_bucket=0"))

    // each batch adds rows past the next threshold; the last one jumps
    // several doublings at once
    val bounds = Seq(40L, per + per / 2, 2 * per + per / 2, 10 * per)
    var seen = Seq(1)
    bounds.sliding(2).foreach { case Seq(lo, hi) =>
      ChunkStore.upsert(chunks(lo, hi), path)
      val count = ChunkStore.tableBuckets(path)
      assert(count == GenStore.bucketsFor(hi, per), s"$hi rows: $count buckets")
      assert(Integer.bitCount(count) == 1 && count <= GenStore.MaxBuckets)
      assert(count > seen.last, s"$hi rows did not grow the store past ${seen.last}")
      seen :+= count
      assertBucketed(path, count)
      assert(bucketDirs(path) == (0 until count).map(b => s"doc_bucket=$b").toSet)
      assert(!Files.exists(Paths.get(path, "_graft_grow")), "growth marker left behind")
    }
    assert(seen == Seq(1, 2, 4, 16))

    // the grown store holds exactly what one write of the same chunks does
    ChunkStore.upsert(chunks(0, bounds.last), ref)
    assert(ChunkStore.tableBuckets(ref) == ChunkStore.tableBuckets(path))
    val grown = rows(path)
    assert(grown == rows(ref))
    assert(grown.map(_._1).distinct.size == grown.size)

    // an upsert that crosses no threshold rewrites only its document's bucket
    val before = bucketFiles(path)
    ChunkStore.upsert(chunks(8, 12, version = 1), path) // replaces d2
    val after = bucketFiles(path)
    val d2 = ChunkStore.read(spark, path).filter(col("document_id") === "d2")
      .select("doc_bucket").distinct().collect().map(r => s"doc_bucket=${r.getInt(0)}").toSet
    assert(d2.size == 1)
    assert(after.keySet == before.keySet)
    assert(before.keySet.filter(b => before(b) != after(b)) == d2,
      "an upsert below the next threshold rewrote other buckets")
    assert(ChunkStore.tableBuckets(path) == 16)
    assert(rows(path).filter(_._2 == "d2").map(_._3).forall(_.startsWith("v1 ")))
  }

  test("a 64-bucket store of the layout before sizing opens, upserts, deletes and compacts as 64") {
    import spark.implicits._
    val path = tmp("legacy")
    LegacyStores.chunkStore(chunks(0, 400), path)
    assert(ChunkStore.tableBuckets(path) == 64)
    assert(rows(path).size == 400)

    ChunkStore.upsert(chunks(0, 8, version = 1).unionByName(chunks(400, 420)), path)
    ChunkStore.deleteDocuments(spark, path, Seq("d10", "d11").toDF("document_id"))
    val expected = (chunks(0, 8, version = 1).collect() ++ chunks(8, 420).collect())
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .filterNot(r => r._2 == "d10" || r._2 == "d11").sorted.toSeq
    assert(rows(path) == expected)
    ChunkStore.compact(spark, path)
    assert(rows(path) == expected)
    assert(ChunkStore.tableBuckets(path) == 64)
    assertBucketed(path, 64)
    assert(bucketFiles(path).values.forall(_.size == 1), "compaction left more than one file per bucket")

    // a store holding data but no count record is a 64-bucket store too:
    // a replacement lands on its document's old rows, never beside them
    Files.delete(Paths.get(path, "_graft_buckets"))
    ChunkStore.upsert(chunks(0, 8, version = 2), path)
    val replaced = rows(path)
    assert(replaced.size == expected.size && replaced.map(_._1).distinct.size == replaced.size)
    assert(replaced.filter(r => r._2 == "d0" || r._2 == "d1").forall(_._3.startsWith("v2 ")))
  }

  test("a directory holding only the count record is no store: the incremental ingest heals it") {
    val path = tmp("record-only")
    val dz = scratchDir("graft-chunkstore-dz")
    Files.writeString(dz.resolve("a.txt"), "alpha beta gamma delta epsilon zeta eta theta")
    Files.writeString(dz.resolve("b.txt"), "iota kappa lambda mu nu xi omicron pi rho")
    // what a create killed between its record and its data leaves
    Files.createDirectories(Paths.get(path))
    Files.writeString(Paths.get(path, "_graft_buckets"), "1")
    assert(!ChunkStore.exists(path))
    val first = graft.sources.FileIngest.ingestDirectoryIncremental(spark, dz.toString, path)
    assert(first.select("path").distinct().count() == 2)
    ChunkStore.upsert(first, path)
    assert(ChunkStore.exists(path))
    assert(rows(path).map(_._1).toSet == first.select("id").collect().map(_.getString(0)).toSet)
    assert(graft.sources.FileIngest.ingestDirectoryIncremental(spark, dz.toString, path).isEmpty)
  }

  test("a band-store epoch with no count record reads as 64; a sized one as its count") {
    import spark.implicits._
    val vocab = (0 until 60).map(i => s"w$i")
    def text(i: Int): String = (0 until 12).map(j => vocab((i * 7 + j * 3) % vocab.size)).mkString(" ")
    val docs = (0 until 40).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    val batch = (0 until 10).map(i => (1000L + i, text(i * 4) + " tail")).toDF("doc_id", "text")
    def pairs(s: BandStore.Store): Set[(Long, Long)] =
      graft.operators.Dedup.nearDupCandidates(batch, s, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val sized = scratchDir("graft-chunkstore-bands").resolve("sized").toString
    BandStore.write(docs, "doc_id", "text", sized, 32, 8)
    val sizedStore = BandStore.read(spark, sized, 32, 8)
    assert(sizedStore.buckets == 1)

    val legacy = scratchDir("graft-chunkstore-bands").resolve("legacy").toString
    BandStore.write(docs, "doc_id", "text", legacy, 32, 8)
    LegacyStores.bandStore(spark, legacy)
    assert(BandStore.read(spark, legacy, 32, 8).buckets == 64)
    // an upsert keeps the epoch's count
    BandStore.upsert(spark, Seq(7L -> (text(3) + " edited")).toDF("doc_id", "text"), "doc_id", "text",
      Seq.empty[Long].toDF("doc_id"), legacy, 32, 8)
    val legacyStore = BandStore.read(spark, legacy, 32, 8)
    assert(legacyStore.buckets == 64)
    assert(legacyStore.rows.filter(col("bh_bucket") =!= pmod(col("bh"), lit(64L))).isEmpty)
    BandStore.upsert(spark, Seq(7L -> text(7)).toDF("doc_id", "text"), "doc_id", "text",
      Seq.empty[Long].toDF("doc_id"), legacy, 32, 8)
    val found = pairs(sizedStore)
    assert(found.nonEmpty && pairs(BandStore.read(spark, legacy, 32, 8)) == found)
    // compaction re-sizes the epoch to its rows
    BandStore.compact(spark, legacy)
    assert(BandStore.read(spark, legacy, 32, 8).buckets == 1)
    assert(pairs(BandStore.read(spark, legacy, 32, 8)) == found)
  }
}
