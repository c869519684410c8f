package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BandStore, ChunkStore, ClusterStore, FileIngest, GenStore,
  ManifestStore, TextIndex, VectorStore}

/** The store-open path ([[GenStore.open]]): the schema read from one
  * committed footer must be exactly what Spark's inference gives for
  * every persisted layout, with the same rows; a torn uncommitted segment
  * must stay invisible; and the opens a serve pays must submit neither
  * the schema-inference job nor a file-listing job. The bucketed write
  * path ([[GenStore.writeBucketed]]) is pinned here too: one file per
  * bucket, written by more than one task.
  */
class StoreOpenSpec extends AnyFunSuite with ScratchDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(tag: String): String =
    scratchDir(s"graft-open-spec-$tag").resolve("store").toString

  private def docsDF(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def ids(xs: Long*): DataFrame = {
    import spark.implicits._
    xs.toDF("doc_id")
  }

  /** Order-free row image: one JSON line per row. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*))).collect()
      .map(_.getString(0)).sorted.toSeq

  private def assertOpensLikeInference(dir: String): Unit = {
    val opened = GenStore.open(spark, dir)
    val inferred = spark.read.parquet(dir)
    assert(opened.schema == inferred.schema, s"schema differs for $dir")
    val rows = rowsOf(opened)
    assert(rows.nonEmpty, s"no rows under $dir")
    assert(rows == rowsOf(inferred), s"rows differ for $dir")
  }

  private val vocab = (0 until 60).map(i => s"w$i")
  private def text(i: Int, n: Int): String =
    (0 until n).map(j => vocab((i * 7 + j * 3) % vocab.size)).mkString(" ")
  private val corpus: Seq[(Long, String)] = (0 until 40).map(i => (i.toLong, text(i, 12)))

  private def chunkStore(files: Int): String = {
    val dz: Path = scratchDir("graft-open-spec-dz")
    (0 until files).foreach(i => Files.writeString(dz.resolve(s"f$i.txt"), s"document $i body ${text(i, 8)}"))
    val store = tmp("chunks")
    ChunkStore.upsert(FileIngest.ingestDirectory(spark, dz.toString, 200, 40), store)
    store
  }

  /** Text index after write → replace/add upsert → delete upsert (no
    * auto-compaction), so postings, doclens and tombstones all hold
    * several generations.
    */
  private def churnedTextIndex(): String = {
    val path = tmp("tindex")
    TextIndex.write(docsDF(corpus), "doc_id", "text", path,
      policy = TextIndex.Policy(maxSegments = 100L, maxDeadFraction = 1.1))
    TextIndex.upsert(spark, docsDF(Seq(3L -> "w1 w2 fresh", 99L -> "w5 new doc")),
      "doc_id", "text", ids(), path)
    TextIndex.upsert(spark, docsDF(Nil), "doc_id", "text", ids(4L, 5L), path)
    path
  }

  test("every store layout opens with inference's schema and rows") {
    assertOpensLikeInference(chunkStore(12))

    val ti = churnedTextIndex()
    Seq("postings", "doclens", "tombstones").foreach(t =>
      assertOpensLikeInference(GenStore.tableDir(ti, t)))

    val vs = tmp("vectors")
    val vecs = (0 until 20).map(i => (i.toLong, Array.tabulate(4)(j => ((i * 5 + j) % 7).toDouble)))
    import spark.implicits._
    VectorStore.write(vecs.toDF("vec_id", "embedding"), "embedding", vs, planes = 2, dim = 4, k = 2)
    VectorStore.upsertVectors(spark, Seq((1L, Array(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", Seq(2L).toDF("vec_id"), vs, planes = 2, dim = 4)
    Seq("vectors", "tombstones").foreach(t => assertOpensLikeInference(GenStore.tableDir(vs, t)))

    val bs = tmp("bands")
    BandStore.write(docsDF(corpus), "doc_id", "text", bs, 32, 8)
    BandStore.upsert(spark, docsDF(Seq(1L -> text(2, 12))), "doc_id", "text", ids(7L), bs, 32, 8)
    Seq("bands", "tombstones").foreach(t => assertOpensLikeInference(GenStore.tableDir(bs, t)))

    val cs = tmp("clusters")
    val dupes = corpus ++ corpus.take(6).map { case (i, t) => (i + 1000L, t + " tail") }
    val bands = tmp("cluster-bands")
    BandStore.write(docsDF(dupes), "doc_id", "text", bands, 32, 8)
    ClusterStore.write(docsDF(dupes), BandStore.read(spark, bands, 32, 8), "doc_id", "text", cs, 0.5)
    assertOpensLikeInference(GenStore.tableDir(cs, "clusters"))

    val ms = tmp("manifest")
    ManifestStore.write(docsDF(corpus), "doc_id", "text", ms,
      ManifestStore.Params(epochs = 2, buckets = 1000L, seqLen = 16L, shards = 4L))
    Seq("spans", "sigs").foreach(t => assertOpensLikeInference(GenStore.tableDir(ms, t)))
  }

  test("a torn uncommitted segment neither breaks the open nor adds rows") {
    val path = tmp("torn")
    // gen 1 adds only (no tombstones); gen 2 deletes, so the tombstone
    // table's only committed generation is 2 — and `gen=10` sorts first
    TextIndex.write(docsDF(corpus), "doc_id", "text", path)
    TextIndex.upsert(spark, docsDF(Seq(50L -> "w1 w9 added")), "doc_id", "text", ids(), path)
    TextIndex.upsert(spark, docsDF(Nil), "doc_id", "text", ids(6L), path)
    val terms = Seq("w1", "w9", "w30")
    val before = TextIndex.read(spark, path)
    val postingsBefore = rowsOf(before.postings)
    val scoresBefore = rowsOf(graft.operators.SearchOps.bm25ScoresIndexed(before, terms))

    def plantTorn(table: String, sub: String): Unit = {
      val dir = GenStore.tableDir(path, table)
      val good = Files.walk(java.nio.file.Paths.get(dir)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val bytes = Files.readAllBytes(good)
      val torn = java.nio.file.Paths.get(dir, sub)
      Files.createDirectories(torn)
      Files.write(torn.resolve("part-00000-torn.c000.snappy.parquet"), bytes.take(bytes.length / 2))
    }
    plantTorn("tombstones", "gen=10")
    plantTorn("postings", s"gen=10/term_bucket=${before.bucketOf("w1")}")

    val tombDir = GenStore.tableDir(path, "tombstones")
    intercept[Exception](GenStore.tableSchema(spark, tombDir)) // the ungated walk hits the torn footer
    assert(GenStore.tableSchema(spark, tombDir, maxGen = 2L) ==
      GenStore.tableSchema(spark, tombDir, maxGen = 9L))
    val after = TextIndex.read(spark, path)
    assert(rowsOf(after.postings) == postingsBefore)
    assert(rowsOf(graft.operators.SearchOps.bm25ScoresIndexed(after, terms)) == scoresBefore)
  }

  /** Spark jobs submitted while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val (r, prof) = graft.core.Telemetry.profile(spark, "store open")(body)
    (r, prof.jobs.size)
  }

  test("serve opens submit no job: TextIndex.read, ChunkStore.read and BandStore.read") {
    val store = chunkStore(120)
    val buckets = Files.list(java.nio.file.Paths.get(store))
      .filter(_.getFileName.toString.startsWith("doc_bucket=")).count()
    assert(buckets > 32, s"only $buckets buckets: the store must exceed the parallel-listing threshold")
    val ti = churnedTextIndex()
    val (idx, tiJobs) = jobsDuring(TextIndex.read(spark, ti))
    assert(tiJobs == 0, s"TextIndex.read submitted $tiJobs jobs")
    val (_, bmJobs) = jobsDuring(
      graft.operators.SearchOps.bm25ScoresIndexed(idx, Seq("w1", "w2")).queryExecution.executedPlan)
    assert(bmJobs == 0, s"planning the indexed BM25 submitted $bmJobs jobs")
    val (_, csJobs) = jobsDuring(ChunkStore.read(spark, store).schema)
    assert(csJobs == 0, s"ChunkStore.read submitted $csJobs jobs")

    val bs = tmp("serve-bands")
    BandStore.write(docsDF(corpus), "doc_id", "text", bs, 32, 8)
    BandStore.upsert(spark, docsDF(Seq(1L -> text(2, 12))), "doc_id", "text", ids(7L), bs, 32, 8)
    val bandBuckets = Files.list(java.nio.file.Paths.get(GenStore.tableDir(bs, "bands"), "gen=0"))
      .filter(_.getFileName.toString.startsWith("bh_bucket=")).count()
    assert(bandBuckets > 32, s"only $bandBuckets band buckets: below the parallel-listing threshold")
    val (_, bsJobs) = jobsDuring(BandStore.read(spark, bs, 32, 8).rows.queryExecution.executedPlan)
    assert(bsJobs == 0, s"BandStore.read submitted $bsJobs jobs")
  }

  /** Every `<bucketPrefix>=` directory under `dir` (at any depth). */
  private def bucketDirs(dir: String, bucketPrefix: String): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(s"$bucketPrefix="))
      .toSeq
  }

  /** Asserts each bucket directory holds exactly one data file and that
    * every stage writing the shuffled rows ran on more than one task. A
    * write stage is a result stage (it writes no shuffle) that reads at
    * least one shuffled row per bucket directory; AQE names stages after
    * its own thread, so the stage name cannot tell.
    */
  private def assertSpreadWrite(what: String, prof: graft.core.Telemetry.Profile,
      tables: Seq[(String, String)]): Unit = {
    val dirCounts = tables.map { case (dir, prefix) =>
      val dirs = bucketDirs(dir, prefix)
      assert(dirs.size > 8, s"$what: only ${dirs.size} $prefix directories under $dir")
      dirs.foreach { d =>
        val files = Files.list(d).filter(_.getFileName.toString.endsWith(".parquet")).count()
        assert(files == 1, s"$what: $d holds $files parquet files")
      }
      dirs.size
    }
    val writes = prof.stages.filter(st => st.writeRecords == 0 && st.readRecords >= dirCounts.min)
    assert(writes.size >= tables.size, s"$what: no shuffled write stage in ${prof.json}")
    writes.foreach(st =>
      assert(st.tasks > 1, s"$what: write stage ${st.id} ran ${st.tasks} task(s): ${prof.json}"))
  }

  test("bucketed writes: one file per bucket, written by more than one task") {
    val dz: Path = scratchDir("graft-open-spec-wdz")
    (0 until 120).foreach(i => Files.writeString(dz.resolve(s"f$i.txt"), s"document $i body ${text(i, 8)}"))
    val chunks = tmp("write-chunks")
    val (_, up) = graft.core.Telemetry.profile(spark, "upsert")(
      ChunkStore.upsert(FileIngest.ingestDirectory(spark, dz.toString, 200, 40), chunks))
    assertSpreadWrite("ChunkStore.upsert", up, Seq(chunks -> "doc_bucket"))

    // the text index sizes its buckets to the documents (one per 4096):
    // 40,000 short documents give it 16
    val ti = tmp("write-tindex")
    val manyDocs = spark.range(40000).select(col("id").as("doc_id"),
      concat_ws(" ", Seq(7L, 13L, 31L).map(m =>
        concat(lit("w"), pmod(col("id") * m, lit(60L)).cast("string"))): _*).as("text"))
    val (_, tw) = graft.core.Telemetry.profile(spark, "text index")(
      TextIndex.write(manyDocs, "doc_id", "text", ti))
    assertSpreadWrite("TextIndex.write", tw, Seq(GenStore.tableDir(ti, "postings") -> "term_bucket",
      GenStore.tableDir(ti, "doclens") -> "doc_bucket"))

    val bs = tmp("write-bands")
    val (_, bw) = graft.core.Telemetry.profile(spark, "bands")(
      BandStore.write(docsDF(corpus), "doc_id", "text", bs, 32, 8))
    assertSpreadWrite("BandStore.write", bw, Seq(GenStore.tableDir(bs, "bands") -> "bh_bucket"))
  }

  test("a store file without Spark's schema key fails loudly, naming the file") {
    val dir = scratchDir("graft-open-spec-foreign").resolve("t")
    spark.range(3).write.parquet(dir.toString)
    val f = Files.list(dir).filter(_.toString.endsWith(".parquet")).findFirst().get()
    // rewrite one file through parquet-hadoop directly: no Spark metadata
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; }")
    Files.list(dir).forEach(p => Files.delete(p))
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(f.toUri)).withConf(conf).withType(schema).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("id", 1L))
    finally w.close()
    val e = intercept[IllegalStateException](GenStore.open(spark, dir.toString))
    assert(e.getMessage.contains(f.getFileName.toString), e.getMessage)
  }
}
