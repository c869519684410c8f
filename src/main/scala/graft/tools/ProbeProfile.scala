package graft.tools

import org.apache.spark.sql.functions._

import graft.core.{Session, Telemetry}
import graft.core.Session.materialize

/** Component-level timing for the incremental/streaming near-dup probes
  * (q96/q97/q127) — attributes their serve cost across store read, batch
  * fingerprint, candidate probe, and exact verification, so optimization
  * targets the measured stage instead of the lineage as a whole. Each
  * component runs under [[Telemetry.profile]].
  *
  * Usage: runMain graft.tools.ProbeProfile [sfDir] [reps]
  */
object ProbeProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = Session.local()
    // reps profiled runs; the fastest one's jobs and slowest stage are
    // printed beside the run vector
    def time(label: String)(f: => Unit): Unit = {
      val ps = (1 to reps).map(_ => Telemetry.profile(spark, label)(f)._2)
      val best = ps.minBy(_.wallMs)
      val top = best.stages.maxByOption(_.wallMs)
        .fold("")(s => s" slowest stage ${s.wallMs} ms ${s.name.take(40)}")
      println(f"[probe] $label%-34s ${ps.map(p => f"${p.wallMs / 1e3}%.2f").mkString(" ")} " +
        f"(min ${best.wallMs / 1e3}%.2f) jobs=${best.jobs.size}$top")
    }

    val docs = graft.core.Tables.fanOut(
      graft.core.Tables(spark, sfDir, "documents"))
    // warmup: one full pass of each kernel class
    materialize(docs.select(col("doc_id"),
      graft.functions.BandMinhash.bandMinhash(
        graft.operators.WordShingles.wordShingles(col("text")), 32, 8).as("b")))

    // --- q96 components: corpus band store ---
    val store = graft.sources.BandStore.ensure(spark, docs, "doc_id", "text", sfDir)
    val batch96 = docs.select((col("doc_id") + 500000).as("doc_id"),
      when(pmod(col("doc_id"), lit(4)) === 0, concat(col("text"), lit(" v2")))
        .otherwise(array_join(reverse(split(trim(col("text")), " ")), " "))
        .as("text"))
    time("q96 store.rows read")(materialize(store.rows))
    time("q96 batch fingerprint")(materialize(graft.sources.BandStore.bandRows(
      batch96, "doc_id", "text", 32, 8)))
    time("q96 candidates (eager probe)") {
      graft.operators.Dedup.nearDupCandidates(batch96, store, "doc_id", "text").count()
    }
    time("q96 full incrementalNearDup")(materialize(
      graft.operators.Dedup.incrementalNearDuplicates(
        batch96, docs, store, "doc_id", "text", threshold = 0.5)))

    // --- q97 components: STREAMING band store (paths as ids) ---
    val root = graft.queries.PipelineCatalog.q87EnsureStreaming(spark, sfDir)
    val store97 = graft.sources.BandStore.read(spark, s"$root/bands", 32, 8)
    val corpus97 = docs.select(concat(col("doc_id"), lit(".txt")).as("doc"), col("text"))
    val batch97 = docs.select(
      concat(col("doc_id") + 500000, lit(".txt")).as("doc"),
      when(pmod(col("doc_id"), lit(4)) === 0, concat(col("text"), lit(" v2")))
        .otherwise(array_join(reverse(split(trim(col("text")), " ")), " "))
        .as("text"))
    time("q97 store.rows read")(materialize(store97.rows))
    time("q97 batch fingerprint")(materialize(graft.sources.BandStore.bandRows(
      batch97, "doc", "text", 32, 8)))
    time("q97 candidates (eager probe)") {
      graft.operators.Dedup.nearDupCandidates(batch97, store97, "doc", "text").count()
    }
    time("q97 full incrementalNearDup")(materialize(
      graft.operators.Dedup.incrementalNearDuplicates(
        batch97, corpus97, store97, "doc", "text", threshold = 0.5)))

    // --- q127 components ---
    val cls = pmod((col("doc_id") / 20).cast("long"), lit(5))
    val dump = docs.select((col("doc_id") + 4000000L).as("doc_id"),
      col("source"),
      when(cls === 0, col("text"))
        .when(cls === 1, concat(col("text"), lit(" v2")))
        .otherwise(array_join(reverse(split(trim(col("text")), " ")), " "))
        .as("text"))
    time("q127 corpus sig distinct")(materialize(
      docs.select(sha2(col("text"), 256).as("sig")).distinct()))
    time("q127 dump sigs + semijoin")(materialize(
      dump.select(col("doc_id"), sha2(col("text"), 256).as("sig"))
        .join(docs.select(sha2(col("text"), 256).as("sig")).distinct(),
          Seq("sig"), "left_semi")))
    time("q127 near probe (eager)") {
      graft.operators.Dedup.incrementalNearDuplicates(dump, docs, store,
        "doc_id", "text", threshold = 0.5).count()
    }
    time("q127 token counts over dump")(materialize(
      dump.select(col("source"),
        size(graft.operators.TextAnalytics.tokens(col("text"))).cast("long")
          .as("n_tok"))))
    spark.stop()
  }
}
