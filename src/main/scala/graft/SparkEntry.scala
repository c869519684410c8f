package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Uuid5, VectorFunctions}
import graft.operators.{Chunker, DevEmbed}
import graft.queries.Catalog

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001 — the reference's full
    * ingest→search lifecycle (SURVEY §3.1/§3.2) as one DataFrame lineage:
    * documents → deterministic ids → sliding-window chunks → dev-mode
    * embeddings → filtered cosine top-k → normalized sources (P6: 600-char
    * truncation, search.py:34-36). Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val chunks = docs
      .withColumn("document_id", Uuid5.documentId(concat(lit("docs/"), col("doc_id"))))
      .select(col("document_id"), col("lang"),
        posexplode(Chunker.chunkTextCol(col("text"), 200, 40)).as(Seq("idx", "text")))
      .withColumn("id", Uuid5.chunkId(col("document_id"), col("idx")))
      .withColumn("vector", DevEmbed.devEmbed(col("text"), 64))

    val queryVec = DevEmbed.devEmbed(lit("fast hash join on sorted data"), 64)
    chunks
      .filter(col("lang").isin("en", "de", "es"))
      .withColumn("score", VectorFunctions.cosine(col("vector"), queryVec))
      .orderBy(col("score").desc, col("id"))
      .limit(12)
      .select(col("id"), col("document_id"), col("idx"), col("score"),
        when(length(col("text")) > 600,
          concat(substring(col("text"), 1, 600), lit("…")))
          .otherwise(col("text")).as("text"))
  }

  /** One entry per implemented operator from SURVEY.md §2 (see Catalog). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Catalog.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables at `sfDir`. Every key has an oracle
    * (QueriesSpec enforces the 1:1 key sets); the entries that embed
    * trained literals read them from the artifacts their query serves.
    */
  def oracleSql: Map[String, (SparkSession, String) => String] = Catalog.oracles
}
