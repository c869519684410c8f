package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Session
import graft.functions.{Uuid5, VectorFunctions}
import graft.operators.{Chunker, DevEmbed}

/** Smoke driver: composes every core kernel into one real DataFrame
  * pipeline over the test corpus — the reference's ingest+search lifecycle
  * (SURVEY §3.1/§3.2) in miniature. Run:
  *   sbt "runMain graft.tools.KernelsDemo"
  */
object KernelsDemo {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()

    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    // ingest: doc ids -> chunks -> chunk ids -> deterministic embeddings
    val chunked = docs
      .withColumn("document_id", Uuid5.documentId(concat(lit("docs/"), col("doc_id"))))
      .select(col("doc_id"), col("document_id"),
        posexplode(Chunker.chunkTextCol(col("text"), 100, 20)).as(Seq("idx", "chunk")))
      .withColumn("id", Uuid5.chunkId(col("document_id"), col("idx")))
      .withColumn("vector", DevEmbed.devEmbed(col("chunk"), 64))

    chunked.cache()
    println(s"== chunk rows: ${chunked.count()}")
    chunked.show(5, 60)

    // search: embed query text, cosine top-5
    val qvec = DevEmbed.devEmbed(lit("spark filter join"), 64)
    val hits = chunked
      .withColumn("score", VectorFunctions.cosine(col("vector"), qvec))
      .orderBy(col("score").desc, col("id"))
      .limit(5)
      .select(col("id"), col("doc_id"), col("idx"), col("score"),
        substring(col("chunk"), 1, 40).as("snippet"))
    println("== top-5 cosine hits:")
    hits.show(false)

    println("== physical plan (search):")
    hits.explain("formatted")

    // probes
    println("== probe: null + empty text through every kernel")
    val probe = spark.range(1)
      .select(
        Chunker.chunkTextCol(lit(null).cast("string"), 100, 20).as("chunks_null"),
        Chunker.chunkTextCol(lit("   "), 100, 20).as("chunks_blank"),
        DevEmbed.devEmbed(lit(""), 4).as("embed_empty"),
        Uuid5.uuid5(lit(Uuid5.DefaultNamespace), lit(null).cast("string")).as("uuid_null"),
        VectorFunctions.cosine(lit(null).cast("array<double>"),
          DevEmbed.devEmbed(lit("x"), 4)).as("cos_null"))
    probe.show(false)

    println("== probe: cosine over mismatched lengths (min-length semantics)")
    spark.range(1).select(VectorFunctions.cosine(
      DevEmbed.devEmbed(lit("abc"), 8),
      DevEmbed.devEmbed(lit("abc"), 4)).as("cos_mismatch")).show(false)

    spark.stop()
  }
}
