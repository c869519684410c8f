package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{GenStore, TextIndex}

/** The text-index layout written before bucket counts were sized to the
  * documents: 64 term buckets, 64 doc buckets and no count record in the
  * epoch. [[rewrite]] turns a freshly written index into it, so specs can
  * check that such a store still opens, scores and maintains.
  */
object LegacyTextIndex {

  /** Re-buckets the gen-0 postings and doclens of the index at `path`
    * into 64 buckets in place; the overwrite drops the count record.
    */
  def rewrite(spark: SparkSession, path: String): Unit = {
    val e = GenStore.epochOf(path)
    def rebucket(table: String, bucketCol: String, bucket: org.apache.spark.sql.Column,
        sortCols: Seq[String]): Unit = {
      val dir = s"$path/$table/e$e"
      val rows = GenStore.seg(spark, dir)
      assert(rows.filter(col("gen") =!= 0L).isEmpty, s"$dir holds upserted segments")
      val legacy = rows.drop(bucketCol).withColumn(bucketCol, bucket).localCheckpoint()
      GenStore.writeBucketed(legacy, Seq("gen", bucketCol), dir, mode = "overwrite",
        sortCols = sortCols)
    }
    rebucket("postings", "term_bucket", TextIndex.termBucketCol(col("term"), 64),
      Seq("term_bucket", "term"))
    rebucket("doclens", "doc_bucket", TextIndex.docBucketCol(col("doc"), 64), Nil)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "postings", s"e$e", "_graft_buckets.json")))
  }
}
