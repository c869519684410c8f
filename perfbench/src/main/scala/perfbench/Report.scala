package perfbench

import java.nio.file.Files

/** Turns a workload's [[Outcome]] and spans into the metrics BENCHMARK.json
  * names, and writes the traced run's spans as one JSON file.
  *
  * Set-up layers are reported per traced set-up (a traced run traces its
  * timed set-up, and the ingest-stage probe after it), the others per
  * traced operation; SearchOps layers per ask. The self time of every span
  * that is not a layer call (operation, set-up and probe roots, the span
  * around an ask) is the uncovered time.
  */
final class Report(a: Args, out: Outcome, tracer: Tracer) {
  import Report._

  private val spans = tracer.recorded
  private val self = TraceReport.selfNs(spans)
  private val roots = spans.filter(_.parent == -1)
  private val setupRoots = roots.filter(_.name == "setup")
  private val opRoots = roots.filter(_.op >= 0)
  private val rootOf: Map[Int, Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    def up(s: Span): Span = if (s.parent == -1) s else up(byId(s.parent))
    spans.map(s => s.id -> up(s)).toMap
  }
  private val asks = spans.filter(_.name == "ask")

  private def work(ss: Seq[Span]) = {
    val ws = ss.flatMap(s => TraceReport.subtree(spans, s.id)).flatMap(tracer.work.get)
    (ws.map(_.jobs).sum, ws.map(_.stages).sum, ws.map(_.shuffleBytes).sum, ws.map(_.spillBytes).sum)
  }

  private def selfNs(ss: Seq[Span]): Long = ss.map(s => self(s.id)).sum
  private def inSetup(s: Span): Boolean = rootOf(s.id).op < 0
  private def per(n: Int, total: Double): Double = if (n == 0) 0.0 else total / n

  /** Layer self times plus uncovered time (together the root spans'
    * durations) account for the traced wall time, taken outside the
    * tracer around each root, within 1% and 1 ms per root.
    */
  val accounted: Boolean = {
    val wall = out.tracedWallNs.sum
    roots.size == out.tracedWallNs.size &&
      math.abs(selfNs(spans) - wall) <= 0.01 * wall + 1e6 * roots.size
  }

  private def opMedian(traced: Boolean): Double =
    Workloads.median(out.opNs.zip(out.traced).collect { case (n, t) if t == traced => n }.toSeq)

  def perLayer: Seq[(String, Double, String)] = {
    val layerTimes = Layers.map { case (layer, unit) =>
      val ss = spans.filter(_.name == layer)
      val (inS, inO) = ss.partition(inSetup)
      val perOp = if (layer.startsWith("SearchOps.")) asks.size else opRoots.size
      val ns = per(setupRoots.size, selfNs(inS).toDouble) + per(perOp, selfNs(inO).toDouble)
      (s"${layer}_$unit", if (unit == "ms") ns / 1e6 else ns / 1e9, unit)
    }
    val recipes = Sizes.Recipes.flatMap { q =>
      val ss = spans.filter(_.name == q)
      val (_, stages, shuffle, spill) = work(ss)
      val n = opRoots.size
      Seq((s"$q.wall_s", per(n, ss.map(_.durNs).sum / 1e9), "s"),
        (s"$q.shuffle_bytes", per(n, shuffle.toDouble), "bytes"),
        (s"$q.spill_bytes", per(n, spill.toDouble), "bytes"),
        (s"$q.stages", per(n, stages.toDouble), "count"))
    }
    val uncovered = spans.filterNot(s => isLayer(s.name))
    val (uncS, uncO) = uncovered.partition(inSetup)
    layerTimes ++ recipes ++ Seq(
      ("SearchOps.jobs_per_ask", per(asks.size, work(asks)._1.toDouble), "count"),
      ("setup.jobs", per(setupRoots.size, work(setupRoots)._1.toDouble), "count"),
      ("op.jobs", per(opRoots.size, work(opRoots)._1.toDouble), "count"),
      ("setup.wall_s", per(setupRoots.size, setupRoots.map(_.durNs).sum / 1e9), "s"),
      ("setup.uncovered_s", per(setupRoots.size, selfNs(uncS) / 1e9), "s"),
      ("ingest_stages.wall_s", roots.filter(_.name == "ingest_stages").map(_.durNs).sum / 1e9, "s"),
      ("op.wall_ms", per(opRoots.size, opRoots.map(_.durNs).sum / 1e6), "ms"),
      ("op.uncovered_ms", per(opRoots.size, selfNs(uncO) / 1e6), "ms"),
      ("trace.overhead_ms", (opMedian(true) - opMedian(false)) / 1e6, "ms"),
      ("trace.ops", opRoots.size.toDouble, "count"),
    ) ++ Counts.map { case (name, unit) => (name, out.counts.getOrElse(name, 0.0), unit) } ++
      Figures.map { case (name, unit) => (name, out.figures.get(name).map(_._1).getOrElse(0.0), unit) }
  }

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", out.setupNs / 1e9, "s"),
    ("op_p50_ms", opMedian(false) / 1e6, "ms"),
    ("stored_bytes_ratio", out.storedBytesRatio, "ratio"))

  /** Highest percentile with at least ten untraced operations beyond it. */
  private def tail: Option[(Double, Double)] = {
    val s = out.opNs.zip(out.traced).collect { case (n, false) => n }.sorted
    Option.when(s.size >= 11)((100.0 * (s.size - 10) / s.size, s(s.size - 11) / 1e6))
  }

  def summary: String = {
    val figs = out.figures.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    val t = tail.map { case (p, v) =>
      s""""op_tail":{"percentile":${num(p)},"value":${num(v)},"unit":"ms"},""" }.getOrElse("")
    s"""perfbench summary: {"workload":"${a.workload}","seed":${a.seed},"cores":${a.cores},""" +
      s""""ops":${out.opNs.size},"traced_ops":${opRoots.size},$t"figures":{${figs.mkString(",")}},""" +
      s""""xxhash64":{${out.hashes.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")}},""" +
      s""""setup_ms":${num(out.setupNs / 1e6)},""" +
      s""""op_ms":[${out.opNs.map(n => num(n / 1e6)).mkString(",")}],""" +
      s""""failures":[${out.failures.map(f => "\"" + f.replace("\"", "'") + "\"").mkString(",")}]}"""
  }

  def result: String = {
    var failed = out.failed
    var attempted = out.attempted
    val metrics =
      if (!a.trace) endToEnd
      else {
        val file = a.out.resolve(s"trace-${a.workload}-seed${a.seed}.json")
        Files.writeString(file, TraceReport.toJson(spans, tracer.work))
        System.err.println(s"[perfbench] spans written to $file")
        attempted += 1
        if (!accounted) failed += 1
        perLayer
      }
    // a value that could not be measured fails the run instead of printing
    // something that is not a number
    val bad = metrics.filterNot(_._2.isFinite)
    if (bad.nonEmpty) {
      System.err.println(s"[perfbench] not measured: ${bad.map(_._1).mkString(", ")}")
      attempted += 1
      failed += 1
    }
    val ms = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${num(if (v.isFinite) v else 0.0)},"unit":"$u"}""" }
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }
}

object Report {
  def apply(a: Args, out: Outcome, tracer: Tracer): Report = new Report(a, out, tracer)

  /** Layer spans and the unit their self time is given in. */
  val Layers: Seq[(String, String)] = Seq(
    "FileIngest.ingestDirectory" -> "s", "FileIngest.parse" -> "s", "Chunker.chunk_embed" -> "s",
    "ChunkStore.upsert" -> "s",
    "TextIndex.write" -> "s", "VectorStore.write" -> "s", "Dropzone.reconcile" -> "s",
    "Exports.manifest" -> "s", "Exports.jsonl" -> "s",
    "BandStore.ensure" -> "s", "ClusterStore.ensure" -> "s",
    "ChunkStore.read" -> "ms", "TextIndex.read" -> "ms",
    "SearchOps.dense" -> "ms", "SearchOps.bm25" -> "ms", "SearchOps.rrf" -> "ms",
    "SearchOps.snippet" -> "ms", "SearchOps.prompt" -> "ms")

  /** Layer calls: the lifecycle layers and the recipes run through
    * `SparkEntry.queries`.
    */
  def isLayer(name: String): Boolean = Layers.exists(_._1 == name) || Sizes.Recipes.contains(name)

  /** Counts taken where the work happens. */
  val Counts: Seq[(String, String)] = Seq(
    "chunks" -> "count", "ChunkStore.files_written" -> "count",
    "ChunkStore.bytes_written" -> "bytes",
    "FileIngest.skip_ratio" -> "ratio", "jvm.gc_ms" -> "ms", "jvm.peak_heap_mb" -> "MB")

  /** Workload-level figures. */
  val Figures: Seq[(String, String)] = Seq(
    "ask_hit1" -> "share", "ingest_chars_per_s" -> "chars/s", "export_s" -> "s")

  def num(v: Double): String =
    if (v.isFinite) java.math.BigDecimal.valueOf(v).toPlainString else "null"
}
