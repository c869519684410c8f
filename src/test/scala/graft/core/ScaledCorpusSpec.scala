package graft.core

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GenStore

class ScaledCorpusSpec extends AnyFunSuite {

  private val Sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  test("reps=2: doubled corpus, reused when fresh, rebuilt without a manifest") {
    val dir = ScaledCorpus.path(Sf, 2)
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    val docsPath = dir.resolve("documents.parquet")
    val manifest = dir.resolve("_graft_manifest.json")
    val base = spark.read.parquet(s"$Sf/documents.parquet")
    val (n, chars) = {
      val r = base.agg(count(lit(1)), sum(length(col("text")))).head()
      (r.getLong(0), r.getLong(1))
    }
    def checkDoubled(): Unit = {
      val r = spark.read.parquet(docsPath.toString)
        .agg(count(lit(1)), countDistinct(col("doc_id")), sum(length(col("text"))))
        .head()
      // replicas keep every char count and get disjoint doc ids
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2 * n, 2 * n, 2 * chars)))
    }

    assert(ScaledCorpus.ensure(spark, Sf, 2) == dir.toString)
    checkDoubled()
    assert(Files.isSymbolicLink(dir.resolve("events.parquet")))
    assert(spark.read.parquet(dir.resolve("events.parquet").toString).count() ==
      spark.read.parquet(s"$Sf/events.parquet").count())

    // fresh: a second call leaves the directory untouched
    val stamp = GenStore.sourceStamp(docsPath.toFile)
    val marker = Files.writeString(dir.resolve("marker"), "kept")
    assert(ScaledCorpus.ensure(spark, Sf, 2) == dir.toString)
    assert(Files.exists(marker))
    assert(GenStore.sourceStamp(docsPath.toFile) == stamp)

    // no manifest (a build that never committed): rebuilt in full
    Files.delete(manifest)
    assert(ScaledCorpus.ensure(spark, Sf, 2) == dir.toString)
    assert(!Files.exists(marker))
    assert(Files.exists(manifest))
    checkDoubled()

    // no temp or stale siblings left behind
    val leftovers = dir.getParent.toFile.listFiles()
      .filter(_.getName.startsWith(s".${dir.getFileName}."))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
  }
}
