package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.Session
import graft.operators.{DevEmbed, SearchOps}
import graft.sources.{ChunkStore, FileIngest, Transcript}
import graft.streaming.Dropzone

/** End-to-end ingestion lifecycle demo, mirroring the reference's golden
  * path (smoke_golden.py / smoke_e2e.py): drop files → ingest → store →
  * modify → re-ingest (replace) → search → stream new arrivals.
  * Run: sbt "runMain graft.tools.IngestDemo"
  */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()

    val dz = Files.createTempDirectory("demo-dropzone")
    val store = Files.createTempDirectory("demo-store").resolve("chunks").toString
    Files.writeString(dz.resolve("guide.md"),
      "# Spark guide\nbroadcast joins ship the small table to every executor")
    Files.writeString(dz.resolve("inventory.csv"), "item,qty\nwidget,7\nsprocket,12\n")
    Files.writeString(dz.resolve("api.json"), """{"service": {"name": "graft", "port": 8082}}""")
    Files.writeString(dz.resolve("support_chat.txt"),
      "User: my ingest is slow, can you help me figure out why it drags?\n" +
        "Assistant: check the shuffle partitions setting first of all.\n" +
        "User: and what about the broadcast threshold then?\n" +
        "Assistant: raise it so dimension tables stop shuffling around.\n" +
        "System: conversation archived.")
    Files.writeString(dz.resolve("threads.json"),
      """[{"id": "conv-demo", "title": "Perf chat", "mapping": {
          "m1": {"message": {"author": {"role": "user"},
                 "content": {"parts": ["why is my join slow?"]}, "create_time": 1704103260}},
          "m2": {"message": {"author": {"role": "assistant"},
                 "content": {"parts": ["it is not broadcast; hint it"]}, "create_time": 1704103320}}}}]""")
    Files.writeString(dz.resolve("temp_junk.txt"), "ignored")

    println("== batch ingest")
    val chunks = FileIngest.ingestDirectory(spark, dz.toString, 200, 40)
    chunks.select("path", "kind", "idx", "id").show(20, 60)

    println("== transcript detection over ingested text files")
    chunks.filter(col("kind") === "text")
      .select(col("path"),
        Transcript.confidence(col("text"), col("path")).as("transcript_conf"))
      .distinct().show(10, 40)

    ChunkStore.upsert(chunks, store, numBuckets = 8)
    println(s"== store rows after first upsert: ${ChunkStore.read(spark, store).count()}")
    ChunkStore.upsert(chunks, store, numBuckets = 8)
    println(s"== store rows after SECOND upsert (must be identical): ${ChunkStore.read(spark, store).count()}")

    println("== search: 'broadcast joins small table'")
    SearchOps.search(
      ChunkStore.read(spark, store),
      DevEmbed.devEmbed(lit("# Spark guide broadcast joins ship the small table to every executor"), 64),
      k = 3).show(3, 50)

    println("== streaming: drop a new file while the query runs")
    val ckpt = Files.createTempDirectory("demo-ckpt").toString
    val query = Dropzone.start(spark, dz.toString, store, ckpt, chunkSize = 200, chunkOverlap = 40)
    try {
      query.processAllAvailable() // first pass re-lands existing files (idempotent)
      val n1 = ChunkStore.read(spark, store).count()
      Files.writeString(dz.resolve("late_arrival.txt"), "a brand new document arrives via the stream")
      query.processAllAvailable()
      val after = ChunkStore.read(spark, store)
      println(s"== store rows: before=$n1 after-stream=${after.count()}")
      after.filter(col("path") === "late_arrival.txt").select("path", "idx", "text").show(5, 60)
    } finally query.stop()

    println("== compact the store (batch + stream upserts left small files)")
    def parquetFiles = java.nio.file.Files.walk(java.nio.file.Path.of(store))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val filesBefore = parquetFiles
    val rowsBefore = ChunkStore.read(spark, store).count()
    ChunkStore.compact(spark, store)
    println(s"== files: $filesBefore -> $parquetFiles; rows: $rowsBefore -> ${ChunkStore.read(spark, store).count()}")
    ChunkStore.compact(spark, store) // probe: compaction is idempotent
    println(s"== after second compact: files=$parquetFiles rows=${ChunkStore.read(spark, store).count()}")

    spark.stop()
  }
}
