package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.GenStore

/** The chunk-store and band-store layouts written before bucket counts
  * were sized to the rows: 64 buckets each. Specs use them to check that
  * such stores still open, serve and maintain, and to get a layout with
  * more buckets than a small input is sized to.
  */
object LegacyStores {

  val Buckets = 64

  /** Writes `chunks` as a new chunk store at `path` the way every store
    * was created before sizing: `doc_bucket = pmod(xxhash64(document_id),
    * 64)` and the plain-int count record.
    */
  def chunkStore(chunks: DataFrame, path: String): Unit = {
    GenStore.writeBucketed(
      chunks.withColumn("doc_bucket", pmod(xxhash64(col("document_id")), lit(Buckets))),
      Seq("doc_bucket"), path, mode = "overwrite", partitionOverwriteMode = "dynamic")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path, "_graft_buckets"), Buckets.toString)
  }

  /** Re-buckets the gen-0 band rows of the store at `path` into 64
    * buckets in place; the overwrite drops the epoch's count record.
    */
  def bandStore(spark: SparkSession, path: String): Unit = {
    val dir = GenStore.tableDir(path, "bands")
    val rows = GenStore.seg(spark, dir)
    assert(rows.filter(col("gen") =!= 0L).isEmpty, s"$dir holds upserted segments")
    val legacy = rows.drop("bh_bucket")
      .withColumn("bh_bucket", pmod(col("bh"), lit(Buckets.toLong))).localCheckpoint()
    GenStore.writeBucketed(legacy, Seq("gen", "bh_bucket"), dir, mode = "overwrite")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_graft_buckets.json")))
  }
}
