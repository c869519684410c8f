package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{DevEmbed, SearchOps}
import graft.sources.{ChunkStore, Exports, FileIngest, TextIndex, VectorStore}
import graft.streaming.Dropzone

/** The store paths of one dropzone's lifecycle. */
final case class Stores(dropzone: Path, root: Path) {
  val chunks: String = root.resolve("chunks").toString
  val text: String = root.resolve("text_index").toString
  val vectors: String = root.resolve("vectors").toString
  val exports: String = root.resolve("export").toString
}

final case class Answer(ids: Seq[String], texts: Seq[String], prompt: String)

/** The benchmark's calls into the engine's public layer functions, each
  * inside a span named after the layer it enters.
  */
final class Lifecycle(spark: SparkSession, tracer: Tracer) {
  import spark.implicits._
  import Lifecycle._

  /** Full build as a caller of the engine makes it: the lazy frame of
    * `FileIngest.ingestDirectory` goes to the chunk store, the text index
    * and the IVF vector store, so each of the three writers recomputes
    * parse, chunk and embed, and its span includes that recompute.
    */
  def ingest(st: Stores): Unit = {
    val chunks = tracer.span("FileIngest.ingestDirectory") {
      FileIngest.ingestDirectory(spark, st.dropzone.toString, embedDim = EmbedDim,
        ingestedAt = IngestedAt)
    }
    tracer.span("ChunkStore.upsert")(ChunkStore.upsert(chunks, st.chunks))
    tracer.span("TextIndex.write")(TextIndex.write(chunks, "id", "text", st.text))
    tracer.span("VectorStore.write") {
      VectorStore.write(chunks.select("id", "vector"), "vector", st.vectors, dim = EmbedDim)
    }
  }

  /** One pass of the two ingest stages, each materialized on its own (a
    * traced run only, outside its set-up): the cost of parse and of
    * chunk+embed that [[ingest]]'s writers each pay again.
    */
  def ingestStages(st: Stores): Long = {
    val docs = tracer.span("FileIngest.parse") {
      FileIngest.parseDirectoryWithChat(spark, st.dropzone.toString).localCheckpoint()
    }
    tracer.span("Chunker.chunk_embed") {
      FileIngest.chunksFromDocuments(docs, embedDim = EmbedDim, ingestedAt = IngestedAt)
        .localCheckpoint().count()
    }
  }

  /** The deletion reconcile of the dropzone against the chunk and vector
    * stores; returns the number of documents it removed.
    */
  def reconcile(st: Stores): Long = tracer.span("Dropzone.reconcile") {
    Dropzone.reconcileDeletions(spark, st.dropzone.toString, st.chunks,
      vectorStorePath = Some(st.vectors), embedDim = EmbedDim)
  }

  /** The all-documents manifest and a stable-field JSONL export of every
    * chunk (the projection `Exports.exportChunks` serves per document).
    */
  def export(st: Stores): Array[org.apache.spark.sql.Row] = {
    val manifest = tracer.span("Exports.manifest") {
      Exports.manifestAll(ChunkStore.read(spark, st.chunks)).collect()
    }
    tracer.span("Exports.jsonl") {
      ChunkStore.read(spark, st.chunks)
        .select("id", "document_id", "kind", "path", "idx", "text")
        .write.mode("overwrite").json(st.exports)
    }
    manifest
  }

  /** One ask: exact filtered cosine top-k over the chunk store, BM25 over
    * the text index, reciprocal-rank fusion, the snippet budget and the
    * prompt.
    */
  def ask(st: Stores, q: Question): Answer = tracer.span("ask") {
    val chunks = tracer.span("ChunkStore.read")(ChunkStore.read(spark, st.chunks))
    val qv = DevEmbed.compute(UTF8String.fromString(q.text), EmbedDim).toDoubleArray()
    val filters = SearchOps.SearchFilters(kind = q.kind, path = q.path)
    val dense = tracer.span("SearchOps.dense") {
      SearchOps.search(chunks, typedLit(qv), K, filters).select("id").as[String].collect()
    }
    val terms = q.text.split(' ').filter(_.nonEmpty).distinct.toSeq
    val sparse = tracer.span("SearchOps.bm25") {
      SearchOps.bm25ScoresIndexed(tracer.span("TextIndex.read")(TextIndex.read(spark, st.text)), terms)
        .orderBy(col("bm25").desc, col("doc")).limit(K).select("doc").as[String].collect()
    }
    val fused = tracer.span("SearchOps.rrf") {
      val rankings = Seq(dense, sparse).map(ids =>
        ids.toSeq.zipWithIndex.map { case (id, i) => (id, i + 1) }.toDF("doc", "rank"))
      SearchOps.rrfFuse(rankings).orderBy(col("rrf").desc, col("doc")).limit(K)
        .select(col("doc").as("id"), col("rrf").as("score")).collect()
        .map(r => (r.getString(0), r.getDouble(1)))
    }
    val snippets = tracer.span("SearchOps.snippet") {
      val ids = fused.map(_._1).toSeq
      val hits = chunks
        .filter(col("id").isin(ids: _*) &&
          q.kind.fold(lit(true))(col("kind") === _) && q.path.fold(lit(true))(col("path") === _))
        .join(fused.toSeq.toDF("id", "score"), "id")
        .select("id", "document_id", "path", "score", "text")
      SearchOps.snippetSelect(hits, minScore = 0.0).orderBy("rank")
        .select("id", "path", "snippet").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    }
    val prompt = tracer.span("SearchOps.prompt") {
      SearchOps.buildPrompt(q.text, snippets.map(s => (s._2, s._3)).toSeq)
    }
    Answer(snippets.map(_._1).toSeq, snippets.map(_._3).toSeq, prompt)
  }
}

object Lifecycle {
  val EmbedDim = 64
  val K = 10
  /** Fixed ingest time: stored provenance, and so stored bytes, repeat. */
  val IngestedAt: java.time.Instant = java.time.Instant.ofEpochSecond(1700000000L)

  /** The entries of a directory listing or walk, closing it. */
  private def entries(s: => java.util.stream.Stream[Path]): Seq[Path] =
    scala.util.Using.resource(s)(_.iterator().asScala.toVector)

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else entries(Files.walk(p)).filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Data files of a bucket-partitioned table, bucket dir → file names. */
  def bucketFiles(table: String): Map[String, Set[String]] = {
    val p = Paths.get(table)
    if (!Files.exists(p)) Map.empty
    else entries(Files.list(p)).filter(_.getFileName.toString.startsWith("doc_bucket="))
      .map(b => b.getFileName.toString ->
        entries(Files.list(b)).map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet)
      .toMap
  }

  /** Parquet files of a bucket-partitioned table. */
  def parquetFiles(table: String): Long = bucketFiles(table).values.map(_.size.toLong).sum

  def asDataFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }
}
