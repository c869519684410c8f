package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Tables
import graft.sources.{BandStore, ChunkStore, ClusterStore, FileIngest, TextIndex, VectorStore}

/** Input sizes of every workload; BENCHMARK.json records the same. */
object Sizes {
  val AskChars = 150000
  /** Asks on the untimed set-up's stores. */
  val WarmAsks = 1
  val MinAsks = 5
  val CurationDocs = 500
  /** sf0.1's shares: 8 exact and 250 near duplicates in 5000 rows. */
  val CurationExactShare = 8.0 / 5000
  val CurationNearShare = 250.0 / 5000
  val Recipes: Seq[String] = Seq("q98_curation_pipeline", "q99_full_recipe",
    "q96_inc_near_dup", "q117_train_prep", "q120_bpe_merges")
}

/** What a workload hands the reporter. `opNs` holds every timed operation
  * in order; `traced` says which of them ran with spans on.
  */
final class Outcome {
  val opNs = ArrayBuffer.empty[Long]
  val traced = ArrayBuffer.empty[Boolean]
  var setupNs = 0L
  /** Wall time of every traced root span, taken outside the tracer. */
  val tracedWallNs = ArrayBuffer.empty[Long]
  /** Workload-level figures (hit rates, throughputs). */
  val figures = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Output hashes that must repeat exactly across runs of one seed. */
  val hashes = scala.collection.mutable.LinkedHashMap.empty[String, String]
  /** Counts taken where the work happens, reported with the per-layer metrics. */
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  var storedBytesRatio = 0.0
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  def figure(name: String, v: Double, unit: String): Unit = figures(name) = (v, unit)
}

/** The measurement harness of both workloads: an untimed and a timed
  * set-up, a closed loop with one client for `seconds`, and correctness
  * checks that each count as an attempted operation.
  */
final class Harness(val args: Args, val spark: SparkSession) {
  val tracer = new Tracer(spark.sparkContext, args.trace)
  val life = new Lifecycle(spark, tracer)
  val out = new Outcome
  val corpus = new Corpus(args.seed)

  /** Runs `warmup` once, untimed, then `body` once, timed, each in a
    * fresh directory; returns the state `body` built. The untimed set-up
    * pays the JVM's one-time class loading and code generation, so the
    * set-up time is a warm one. It is one set-up, not the median of
    * several: a second timed one would add ~18 s to a pair of runs (one of
    * each workload), which the time budget of 24 pairs in 3420 s cannot
    * afford on a loaded host. A traced run records spans in `body`.
    */
  def setup[S](warmup: Path => Unit)(body: Path => S): S = {
    val w = Files.createDirectories(args.work.resolve("warmup"))
    warmup(w)
    Workloads.deleteTree(w)
    log("untimed set-up done")
    val d = Files.createDirectories(args.work.resolve("setup"))
    val t0 = System.nanoTime()
    tracer.on = args.trace
    val s = try tracer.op(-1, "setup")(body(d)) finally tracer.on = false
    val ns = System.nanoTime() - t0
    out.setupNs = ns
    if (args.trace) out.tracedWallNs += ns
    log("timed set-up done")
    s
  }

  /** A traced run's extra root span outside set-up and the timed loop. */
  def probe[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    tracer.on = true
    val r = try tracer.op(-2, name)(body) finally tracer.on = false
    out.tracedWallNs += System.nanoTime() - t0
    r
  }

  /** Progress on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs $msg")

  /** A standalone correctness check. */
  def check(name: String)(cond: => Boolean): Boolean = {
    out.attempted += 1
    val ok = try cond catch {
      case e: Exception =>
        System.err.println(s"[perfbench] check $name threw: $e")
        false
    }
    if (!ok) { out.failed += 1; out.failures += name }
    ok
  }

  /** The closed loop: operations back to back until `seconds` have been
    * measured, and at least `minOps`. In a traced run every second
    * operation records spans, so the untraced ones give the tracing
    * overhead in the same process. `one(i)` times its operation with
    * [[timed]] and returns the checks it failed.
    */
  def loop(minOps: Int)(one: Int => Seq[String]): Unit = {
    log("timed loop starts")
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    // a traced run needs a traced and an untraced operation at least
    val least = if (args.trace) math.max(minOps, 2) else minOps
    val gc0 = Jvm.gcMs()
    Jvm.resetPeaks()
    var i = 0
    while (i < least || System.nanoTime() < deadline) {
      tracer.on = args.trace && i % 2 == 1
      out.attempted += 1
      val failedChecks =
        try one(i) catch {
          case e: Exception =>
            System.err.println(s"[perfbench] operation $i threw: $e")
            Seq(s"operation $i threw ${e.getClass.getSimpleName}")
        } finally tracer.on = false
      if (failedChecks.nonEmpty) { out.failed += 1; out.failures ++= failedChecks }
      i += 1
    }
    log(s"timed loop done: $i operations")
    out.counts("jvm.gc_ms") = Jvm.gcMs() - gc0
    out.counts("jvm.peak_heap_mb") = Jvm.peakHeapMb()
  }

  /** Times one operation of the loop (its root span when traced). */
  def timed[T](opId: Int)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = tracer.op(opId, args.workload)(body)
    val ns = System.nanoTime() - t0
    out.opNs += ns
    out.traced += tracer.on
    if (tracer.on) out.tracedWallNs += ns
    r
  }
}

object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since [[resetPeaks]]. */
  def peakHeapMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Workloads {
  val Names: Seq[String] = Seq("ask_session", "curation_batch")

  def run(h: Harness): Outcome = {
    h.args.workload match {
      case "ask_session" => askSession(h)
      case "curation_batch" => curationBatch(h)
    }
    h.out
  }

  // -------------------------------------------------------------------------
  // ask_session: set-up takes a dropzone to searchable, exported stores (the
  // whole write path); each timed operation is one ask.

  private final case class Built(st: Stores, removed: Long, manifest: Seq[org.apache.spark.sql.Row])

  private def askSession(h: Harness): Unit = {
    val spark = h.spark
    val files = h.corpus.dropzone(Sizes.AskChars)
    val chunks = files.flatMap(Corpus.replay)
    val questions = h.corpus.questions(Sizes.WarmAsks + 4000, chunks.toIndexedSeq)
    var ingestNs, exportNs = 0L
    def build(d: Path, timed: Boolean): Built = {
      val st = Stores(d.resolve("dropzone"), d.resolve("stores"))
      files.foreach(Corpus.write(st.dropzone, _))
      val t0 = System.nanoTime()
      h.life.ingest(st)
      val t1 = System.nanoTime()
      val removed = h.life.reconcile(st)
      val t2 = System.nanoTime()
      val manifest = h.life.export(st)
      if (timed) {
        ingestNs = t1 - t0
        exportNs = System.nanoTime() - t2
      }
      Built(st, removed, manifest.toSeq)
    }
    // the untimed set-up also checks a no-op re-ingest and warms the ask path
    val built = h.setup { d =>
      val w = build(d, timed = false)
      h.check("re-ingesting the unchanged dropzone skips every document and rewrites no bucket")(
        unchangedReingest(h, w.st, files.size))
      questions.take(Sizes.WarmAsks).foreach(h.life.ask(w.st, _))
    }(build(_, timed = true))
    val st = built.st
    if (h.args.trace) h.probe("ingest_stages")(h.life.ingestStages(st))
    val dzChars = files.map(_.content.length.toLong).sum
    h.out.figure("input_files", files.size, "count")
    h.out.figure("input_chars", dzChars, "chars")
    h.out.figure("input_chunks", chunks.size, "count")
    h.out.figure("ingest_chars_per_s", dzChars / (ingestNs / 1e9), "chars/s")
    h.out.figure("export_s", exportNs / 1e9, "s")
    h.out.storedBytesRatio = Lifecycle.bytesUnder(st.root).toDouble /
      Lifecycle.bytesUnder(st.dropzone)
    h.out.counts("chunks") = chunks.size
    h.out.counts("ChunkStore.files_written") = Lifecycle.parquetFiles(st.chunks)
    h.out.counts("ChunkStore.bytes_written") = Lifecycle.bytesUnder(Paths.get(st.chunks))

    h.check("stored chunks equal the driver-side chunk and uuid5 replay") {
      val expected = chunks.map(c => c.id -> c.text).toMap
      val stored = ChunkStore.read(spark, st.chunks).select("id", "text").collect()
        .map(r => r.getString(0) -> r.getString(1))
      stored.length == expected.size && stored.toMap == expected
    }
    h.check("the reconcile of a freshly ingested dropzone removes nothing")(built.removed == 0L)
    h.check("text index and vector store hold every chunk") {
      TextIndex.read(spark, st.text).n == chunks.size &&
        VectorStore.read(spark, st.vectors, 8, Lifecycle.EmbedDim, "id").vectors.count() == chunks.size
    }
    h.check("manifest and JSONL export cover every document and chunk") {
      built.manifest.size == files.size &&
        built.manifest.map(_.getAs[Long]("chunk_count")).sum == chunks.size &&
        spark.read.json(st.exports).count() == chunks.size
    }

    // hit@1 is scored on the first MinAsks timed asks, which every run
    // asks, so it repeats exactly for a seed
    var hits = 0
    var known = 0
    val answers = scala.collection.mutable.HashMap.empty[Question, Answer]
    h.loop(minOps = Sizes.MinAsks) { i =>
      val q = questions(Sizes.WarmAsks + i)
      val a = h.timed(i)(h.life.ask(st, q))
      if (i < Sizes.MinAsks) q.expect.foreach { e =>
        known += 1
        if (a.texts.headOption.exists(_.contains(e))) hits += 1
      }
      // the stores do not change, so a repeated question gets the same answer
      val repeatOk = answers.get(q).forall(_ == a)
      answers(q) = a
      Seq(
        Option.when(!repeatOk)(s"ask $i: a repeated question was answered differently"),
        Option.when(a.ids.size > 5 || !a.prompt.contains(q.text))(s"ask $i: malformed answer"),
      ).flatten
    }
    h.out.figure("ask_hit1", hits.toDouble / known.max(1), "share")
  }

  /** Incremental re-ingest of an unchanged dropzone: every document is
    * skipped, no chunk-store bucket is rewritten, no id is duplicated.
    */
  private def unchangedReingest(h: Harness, st: Stores, nFiles: Int): Boolean = {
    val spark = h.spark
    val before = Lifecycle.bucketFiles(st.chunks)
    val delta = FileIngest.ingestDirectoryIncremental(spark, st.dropzone.toString, st.chunks,
      embedDim = Lifecycle.EmbedDim, ingestedAt = Lifecycle.IngestedAt)
    val deltaDocs = delta.select("document_id").distinct().count()
    h.out.counts("FileIngest.skip_ratio") = (nFiles - deltaDocs).toDouble / nFiles
    ChunkStore.upsert(delta, st.chunks)
    val store = ChunkStore.read(spark, st.chunks)
    deltaDocs == 0L && before == Lifecycle.bucketFiles(st.chunks) &&
      store.count() == store.select("id").distinct().count()
  }

  // -------------------------------------------------------------------------
  // curation_batch: the composed LLM-data recipes over a corpus with
  // injected duplicates; the write-time band and cluster stores are built
  // in set-up.

  private def curationBatch(h: Harness): Unit = {
    val spark = h.spark
    val docs = h.corpus.documents(Sizes.CurationDocs, Sizes.CurationExactShare,
      Sizes.CurationNearShare)
    def build(d: Path): String = {
      val dir = d.resolve("corpus").toString
      Lifecycle.asDataFrame(spark, docs).coalesce(1).write.parquet(s"$dir/documents.parquet")
      lazy val wide = Tables.fanOut(Tables(spark, dir, "documents"))
      val bands = h.tracer.span("BandStore.ensure") {
        BandStore.ensure(spark, wide, "doc_id", "text", dir)
      }
      h.tracer.span("ClusterStore.ensure") {
        ClusterStore.ensure(spark, wide, "doc_id", "text", dir, bands)
      }
      dir
    }
    val dir = h.setup(d => { build(d); () })(build)
    val queries = SparkEntry.queries
    def batch(): Seq[Long] =
      Sizes.Recipes.map(q => h.tracer.span(q)(foldOf(queries(q)(spark, dir))))
    h.out.storedBytesRatio = (Lifecycle.bytesUnder(Paths.get(BandStore.storePath(dir))) +
      Lifecycle.bytesUnder(Paths.get(ClusterStore.storePath(dir)))).toDouble /
      Lifecycle.bytesUnder(Paths.get(dir))
    h.out.figure("input_docs", docs.size, "count")
    h.out.figure("input_chars", docs.map(_.text.length.toLong).sum, "chars")
    h.out.figure("input_exact_dup_share", 1.0 - docs.map(_.text).distinct.size.toDouble / docs.size, "share")
    h.check("the corpus table holds every generated document") {
      Tables(spark, dir, "documents").count() == docs.size
    }
    // fills the engine's lazily built per-corpus state; its folds are the
    // reference every timed batch must reproduce
    val reference = batch()
    h.loop(minOps = 1) { i =>
      val folds = h.timed(i)(batch())
      Sizes.Recipes.zip(folds).zip(reference).collect {
        case ((q, f), ref) if f != ref => s"batch $i: $q fold $f differs from $ref"
      }
    }
    Sizes.Recipes.zip(reference).foreach { case (q, f) => h.out.hashes(q) = f"$f%016x" }
  }

  /** xxhash64 over every output column, folded with bit_xor: materializes
    * the whole projection and gives an order-independent output hash.
    */
  def foldOf(df: org.apache.spark.sql.DataFrame): Long =
    df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)

  def median(xs: Seq[Long]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2).toDouble
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
}
